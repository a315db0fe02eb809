"""A minimal snapshot-versioned table format: ATOMIC multi-bucket
commits over plain parquet — the one versioned, keyed table of this
package. A MERGE applies ``operators/merge.py``'s changeset algebra to
the touched buckets and publishes them all in one commit, so no reader
ever sees a half-merged table.

This is the log-of-manifests design real table formats (Delta,
Iceberg) reduce to, in its smallest honest form:

```
<path>/
  _manifests/v<N>.json       immutable snapshot N: bucket -> data dir
  data/commit-<uuid>/pb=<b>/ immutable parquet written by one commit
```

The manifest format itself — entry names, ref resolution, the
timestamp rule and the bucket diffs — lives in ``operators/manifest.py``,
shared with the Python DataSources that read it.

- **The commit point is an atomic publish-if-absent of the manifest.**
  A commit (a) writes new data files under a fresh ``commit-<uuid>``
  dir nobody references yet, then (b) publishes manifest N+1 through
  the table's ``LogStore`` (``operators/log_store.py``): POSIX = temp
  write + exclusive hard link; object store = conditional PUT — both
  are an ATOMIC create-if-absent of a COMPLETE entry. Before (b)
  nothing happened (a crash leaves only unreferenced data a ``vacuum``
  sweeps); after (b) every touched bucket is visible at once. There is
  no observable half-merged state and no recovery ambiguity: a
  manifest either exists completely or not at all. (Delta's
  `_delta_log` append via per-filesystem LogStores is this same
  protocol.)
- **Snapshot isolation / time travel.** The current version is simply
  the highest manifest present; readers resolve a version to its
  manifest and read exactly those files. Data files are immutable
  until ``vacuum``, so a long read is never disturbed by commits.
- **Optimistic concurrency.** Two writers racing from the same base
  both try to link ``v{N+1}`` — the loser's link raises
  ``FileExistsError`` → ``VersionConflictError``; the lost-update
  anomaly cannot commit. Retry = re-read the new current and re-apply.
- **Manifest-level pruning.** A merge reads ONLY the touched buckets'
  dirs straight from the manifest — pruning above the engine, stronger
  than a pushed filter (untouched buckets are never even listed).

The manifest also tracks per-bucket AND per-file zone-map stats
(``read_table_where`` prunes dirs, then files, without listing what it
skips), schema evolution (``add_column``, metadata-only), layout
maintenance (``optimize_table`` value-sorted rewrite, ``rebucket_table``
bucket-count growth — both layout_only commits the change feed provably
ignores), and a change-data-feed (batch ``table_changes`` here;
streaming ``sources/cdf_source.py``). At 100 TB the commit primitive is
a conditional PUT on an object store / catalog row — the LogStore
interface carries exactly that split, and the OCC/crash/lifecycle tests
run against both the POSIX and the conditional-put store (``tests/
test_table_format.py``). Reference contrast: the reference's sink has no
commit notion at all (one flush at EOS, gst-detection-tf.py:339-344)."""

from __future__ import annotations

import datetime
import json
import math
import os
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark.functions.shipping import on_worker
from video_streamer_spark.operators import manifest
from video_streamer_spark.operators.log_store import (
    LogEntryExistsError,
    log_store_for,
)
from video_streamer_spark.operators.manifest import (
    BucketLayoutChanged,
    abs_ref as _abs_ref,
    manifest_dir as _manifest_dir,
)
from video_streamer_spark.operators.merge import (
    BUCKET_COL,  # the bucket column _bucketed emits — must stay shared
    OP_COL,
    apply_changeset,
    _bucketed,
)

# how many streaming idempotency keys each manifest carries forward:
# the replay window. Structured Streaming replays at most the epochs
# since the last checkpoint commit, so a bounded recent-keys map is the
# honest analog of Delta's per-app txn version.
TXN_KEEP = 100

# join-hit marker added to the target side of merge/sync left joins.
# Matched-row detection must NOT test key nullness: under eqNullSafe a
# NULL key column is a legal, matchable value, so t.<key0> IS NOT NULL
# would misroute null-keyed matched rows to the not-matched clause.
_HIT_COL = "__t_hit"

# tombstone anti-joins broadcast the dead-key set only below this
# on-disk size (compressed parquet bytes, keys-only columns). The gate
# is deliberately tighter than the session's
# spark.sql.autoBroadcastJoinThreshold (64m in session.py): compressed
# key columns expand several-fold in memory, so 10 MiB on disk stays
# safely under the engine's in-memory budget. Past the gate the keys
# stay distributed; AQE may still pick broadcast from runtime stats
# (see _minus_tombstones).
_TOMBSTONE_BROADCAST_MAX_BYTES = 10 * 1024 * 1024

# below BOTH of these, a single-key table's tombstones fold into the
# scan as a codegen InSet predicate instead of an anti-join (zero extra
# stages per read — the GDPR/small-retention case). The row cap is
# MEASURED, not guessed: literal-heavy plans pay analysis/serialization
# per literal, and min-of-3 on a 150k-row table put the crossover
# between 128 (inline 0.43 vs join 0.46) and 512 (0.68 vs 0.44) keys —
# past ~128 the anti-join wins, so that's the cap. The byte gate keeps
# the driver-side pyarrow key read metadata-sized.
_TOMBSTONE_INLINE_MAX_BYTES = 256 * 1024
_TOMBSTONE_INLINE_MAX_KEYS = 128

# a bucket may accumulate at most this many tombstone refs before a
# tombstoning merge forces it through the rewrite path (folding all of
# its debt): bounds the manifest's list growth AND the per-read
# anti-join fan-in on delete-heavy CDC feeds at amortized O(1) — every
# cap-th delete batch pays one bucket rewrite, like a log-structured
# tree's compaction trigger. delete_keys (the explicit O(keys) API) is
# deliberately NOT capped: its caller chose tombstone economics.
_TOMBSTONE_MAX_REFS = 8


class VersionConflictError(RuntimeError):
    """Another writer committed from the same base version first."""


class VersionVacuumedError(RuntimeError):
    """The requested version's manifest was dropped by ``vacuum`` —
    the version is older than the table's retention window. Raised by
    time travel and ``table_changes`` so a reader can tell "history
    traded for space, pick a retained version" apart from a genuinely
    corrupt table (raw FileNotFoundError). The streaming twin is the
    table_cdf reader's named start-offset-vacuumed error
    (``sources/cdf_source.py``) — same contract: never read through a
    hole, always name the remedy."""


def history(path: str) -> list[int]:
    """Committed versions, ascending. A manifest file IS a commit."""
    return manifest.versions_in(
        log_store_for(path).list_entries(_manifest_dir(path))
    )


def current_version(path: str) -> int:
    versions = history(path)
    if not versions:
        raise FileNotFoundError(f"no committed version at {path}")
    return versions[-1]


def _read_entry_trusting_list(store, mdir: str, name: str) -> str:
    """Read one log entry, absorbing TRANSIENT store read anomalies
    (a read racing a delete / replication lag — S3-class faults, see
    ``log_store.FaultyLogStore``): on FileNotFoundError, re-list; if
    the entry is still listed the miss was a lie, so retry briefly —
    if it is NOT listed, the entry is genuinely gone (vacuumed or
    never committed) and the error is real."""
    for attempt in range(3):
        try:
            return store.read_entry(mdir, name)
        except FileNotFoundError:
            if name not in store.list_entries(mdir):
                raise
            time.sleep(0.02 * (attempt + 1))
    return store.read_entry(mdir, name)


def _read_manifest(path: str, version: int) -> dict:
    return json.loads(
        _read_entry_trusting_list(
            log_store_for(path),
            _manifest_dir(path),
            manifest.entry_name(version),
        )
    )


def _read_retained_manifest(path: str, version: int) -> dict:
    """Manifest read for USER-ADDRESSED versions (time travel,
    ``table_changes`` endpoints): a miss that is explained by vacuum —
    the version predates the oldest retained manifest — raises the
    named :class:`VersionVacuumedError` with the retained range, so
    callers never mistake retention for corruption. A miss NOT
    explained by retention (version inside or past the retained range)
    stays a raw FileNotFoundError: that is a never-committed version or
    a genuinely damaged log, and dressing it up as vacuum would point
    the operator at the wrong remedy."""
    try:
        return _read_manifest(path, version)
    except FileNotFoundError:
        hist = history(path)
        if hist and version < hist[0]:
            raise VersionVacuumedError(
                f"version {version} of {path} was removed by vacuum; "
                f"retained versions are {hist[0]}..{hist[-1]}. Re-read "
                "from a retained version (a CDF consumer should "
                "re-baseline from a snapshot), or raise vacuum's "
                "keep_last so addressed versions outlive the readers "
                "that hold them."
            ) from None
        raise


def _commit_manifest(path: str, version: int, doc: dict) -> None:
    """Publish the manifest atomically via the table's LogStore — the
    commit point. The store guarantees publish-if-absent of a COMPLETE
    entry (POSIX: temp write + exclusive hard link; object store:
    conditional PUT — see ``operators/log_store.py``); the loser of a
    same-version race gets VersionConflictError and no partial
    manifest can ever be observed.

    Ambiguous-outcome resolution: a put can fail AFTER the entry is
    durably published (the store's OK was lost — the classic S3 retry
    trap). When a retry then hits LogEntryExistsError, the existing
    entry is read back and compared: byte-identical payload means the
    earlier put WAS ours and the commit succeeded — return success —
    while different bytes mean a competitor really did win the
    version. Payloads are commit-unique in practice (each commit's doc
    references fresh ``commit-<uuid>`` data dirs), so identity cannot
    confuse two independent writers.

    Commit timestamps (``committed_at``, for ``TIMESTAMP AS OF``) are
    stamped HERE, exactly once per (doc, version): the ``_ts_v``
    sentinel keeps a within-process retry of the same doc byte-identical
    (the ambiguous-outcome resolution above depends on that), while a
    doc COPIED from an older manifest (restore/clone/rebase/evolution
    all start from ``dict(old_doc)``) carries a stale sentinel and is
    re-stamped — inheriting the source commit's wall time would corrupt
    time-travel resolution for every copying commit class."""
    if doc.get("_ts_v") != version:
        doc["committed_at"] = time.time()
        doc["_ts_v"] = version
    payload = json.dumps(doc)
    try:
        log_store_for(path).put_if_absent(
            _manifest_dir(path), manifest.entry_name(version), payload
        )
    except LogEntryExistsError as exc:
        try:
            # trust-the-list retry, same as every manifest read: a
            # transient NotFound here would misreport OUR OWN durable
            # commit as a competitor's win (review r9)
            existing = _read_entry_trusting_list(
                log_store_for(path),
                _manifest_dir(path),
                manifest.entry_name(version),
            )
        except OSError:
            existing = None
        if existing == payload:
            return  # our own durable put whose acknowledgment was lost
        raise VersionConflictError(
            f"version v{version} at {path} was committed by another "
            "writer; re-read the table and re-apply the changeset"
        ) from exc


# Observability: how many conflict rebases have landed in this process
# (a writer whose stale base lost a version race re-committing WITHOUT
# re-running its data work). Operationally the number to watch under
# multi-writer load — rebases scaling with writer count is healthy OCC;
# full VersionConflictError retries scaling with it is serialization —
# and what lets tests assert the cheap path actually fired rather than
# every loser silently falling back to a full re-merge.
_REBASE_LOCK = threading.Lock()
_REBASES_FIRED = 0


def rebases_fired() -> int:
    """Process-wide count of landed conflict rebases (monotonic)."""
    return _REBASES_FIRED


def _note_rebase() -> None:
    global _REBASES_FIRED
    with _REBASE_LOCK:
        _REBASES_FIRED += 1


def _commit_with_rebase(
    path: str,
    base_v: int,
    base_doc: dict,
    new_doc: dict,
    touched: set[str],
    idempotency_key: str | None,
    max_rebases: int = 3,
    read_buckets: set[str] | None = None,
) -> int:
    """Commit ``new_doc`` (built against ``base_v``), REBASING onto the
    new current on a version conflict when every concurrent winner
    touched a DISJOINT set of buckets — Delta's logical conflict
    resolution in this format's vocabulary.

    The expensive half of an OCC retry is re-running the data work;
    but the loser's data files reference ONLY its touched buckets, and
    the key hash pins every key to its bucket forever, so if no winner
    repointed or re-tombstoned any of those buckets the loser's files
    are still exactly right — only its MANIFEST was stale. The rebase
    takes the winner's manifest and overwrites just the loser's
    touched-bucket entries (dir pointers, zone maps, file stats,
    blooms, tombstone lists), then re-commits at the next version. At
    1000 concurrent writers on a 100 TB table this is the difference
    between serializing every commit behind full re-merges and letting
    disjoint work land in parallel.

    Conservative eligibility — anything else re-raises the conflict
    for the caller's full retry:

    - same ``n_buckets`` and ``key_cols`` (a rebucket invalidates the
      loser's key→bucket routing entirely);
    - byte-identical ``schema`` (a concurrent evolution would demand
      reasoning about column supersets mid-commit);
    - same bloom configuration;
    - the winners' changed-bucket set (endpoint diff vs ``base_doc``)
      does not intersect ``touched`` NOR ``read_buckets`` — the
      optional read-set lets a classifying writer (``merge_into``,
      ``sync_table``) demand serializable isolation: a winner that
      changed a bucket the classification READ but this commit does
      not write re-raises instead of rebasing, closing the
      WriteSerializable-style write-skew window Delta accepts. Only
      ``touched`` buckets are overwritten in the rebased manifest;
      read-only buckets gate eligibility and nothing else.

    ``idempotency_key`` replay is honored across rebase attempts: if a
    (possibly ambiguous) earlier put of OURS landed, the key shows up
    in the current manifest's txn log and the commit no-ops."""
    doc = dict(new_doc)
    version = base_v + 1
    rebased_yet = False
    for _ in range(max_rebases + 1):
        try:
            _commit_manifest(path, version, doc)
            if rebased_yet:
                _note_rebase()
            return version
        except VersionConflictError:
            cur_v = current_version(path)
            cur = _read_manifest(path, cur_v)
            if idempotency_key is not None and idempotency_key in cur.get(
                "txns", []
            ):
                return cur_v  # our own commit already landed
            eligible = (
                cur.get("n_buckets") == base_doc.get("n_buckets")
                and cur.get("key_cols") == base_doc.get("key_cols")
                and cur.get("schema") == base_doc.get("schema")
                # a concurrent ADD CONSTRAINT / SET NOT NULL is
                # metadata-only (changes no buckets) but the loser's
                # rows were never guarded against it; a concurrent
                # drop+re-add can leave the schema byte-identical while
                # the physical mapping moved — all must re-raise,
                # never rebase
                and cur.get("constraints") == base_doc.get("constraints")
                and cur.get("not_null") == base_doc.get("not_null")
                and cur.get("column_mapping")
                == base_doc.get("column_mapping")
                and {
                    k: cur.get("bloom", {}).get(k)
                    for k in ("cols", "m", "k")
                }
                == {
                    k: base_doc.get("bloom", {}).get(k)
                    for k in ("cols", "m", "k")
                }
                and not (
                    manifest.buckets_changed_between(base_doc, cur)
                    & (touched | (read_buckets or set()))
                )
            )
            if not eligible:
                raise
            rebased = dict(cur)
            rebased["version"] = cur_v + 1
            rebased.pop("layout_only", None)  # this commit changes rows
            rebased.pop("restored_from", None)
            for fam in ("buckets", "stats", "file_stats"):
                dst = dict(cur.get(fam, {}))
                src = new_doc.get(fam, {})
                for b in touched:
                    if b in src:
                        dst[b] = src[b]
                    else:
                        dst.pop(b, None)  # fully-deleted bucket vanishes
                rebased[fam] = dst
            if "bloom" in cur or "bloom" in new_doc:
                conf = cur.get("bloom") or new_doc.get("bloom")
                dst = dict((cur.get("bloom") or {}).get("buckets", {}))
                src = (new_doc.get("bloom") or {}).get("buckets", {})
                for b in touched:
                    if b in src:
                        dst[b] = src[b]
                    else:
                        dst.pop(b, None)
                rebased["bloom"] = {**conf, "buckets": dst}
            dst = {
                b: list(v) for b, v in cur.get("tombstones", {}).items()
            }
            src = new_doc.get("tombstones", {})
            for b in touched:
                if b in src:
                    dst[b] = list(src[b])
                else:
                    dst.pop(b, None)  # rewrite folded this bucket's debt
            if dst:
                rebased["tombstones"] = dst
            else:
                rebased.pop("tombstones", None)
            cur_txns = cur.get("txns", [])
            if idempotency_key is not None:
                rebased["txns"] = (cur_txns + [idempotency_key])[-TXN_KEEP:]
            elif cur_txns:
                rebased["txns"] = cur_txns
            else:
                rebased.pop("txns", None)
            doc, version = rebased, cur_v + 1
            rebased_yet = True
    raise VersionConflictError(
        f"rebase at {path} lost {max_rebases + 1} straight version races; "
        "re-read the table and re-apply the changeset"
    )


def occ_retry(fn, attempts: int = 6, base_sleep: float = 0.05, rng=None):
    """Run ``fn`` retrying on :class:`VersionConflictError` with
    jittered exponential backoff — the LIVENESS half of OCC. Safety
    needs no help (the losing put publishes nothing), but N sustained
    committers retrying in sync re-collide forever; the jitter
    de-synchronizes them so everyone commits within a bounded budget
    (round-8 VERDICT item 6). ``fn`` must re-read the table's current
    state itself (merge_table and friends do — base version is read
    inside the call), so simply calling it again is a correct retry."""
    import random as _random

    if attempts < 1:
        raise ValueError(f"occ_retry needs attempts >= 1, got {attempts}")
    rng = rng if rng is not None else _random.Random()
    last: VersionConflictError | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except VersionConflictError as exc:
            last = exc
            if attempt < attempts - 1:
                time.sleep(
                    base_sleep * (2**attempt) * (0.5 + rng.random())
                )
    raise last


# types whose min/max are meaningful zone-map bounds AND survive a JSON
# round trip (dates/timestamps as ISO strings — lexicographic order ==
# temporal order, so string comparison prunes correctly)
_STAT_ATOMS = frozenset(
    {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "date", "timestamp", "timestamp_ntz",
    }
)


def _json_stat(v):
    """A collected min/max as a JSON-safe value; None = unknown (an
    all-null column, or a NaN bound) → the bucket is never pruned on
    that column."""
    if v is None:
        return None
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return v


def _commit_stats(
    spark: SparkSession, full: str
) -> tuple[dict, dict]:
    """Zone maps for the freshly written commit dir, at BOTH
    granularities: per bucket (the skip unit for untouched-carry-over
    manifests) and per FILE within each bucket (the real 100 TB skip
    unit — ``optimize_table`` tightens these). Returns
    ``(bucket_stats, file_stats)`` where ``file_stats[bucket][fname]``
    maps column → [min, max] for one parquet file.

    Cost: one footer-friendly scan of the COMMIT (changeset-sized,
    never table-sized) grouped by ``input_file_name()`` and a
    files-in-this-commit-sized collect. A production format gets these
    for free from the parquet writer's own footer metadata; re-deriving
    them from the immutable files keeps this implementation honest
    without a writer hook."""
    df = spark.read.parquet(full)
    types = {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.name != BUCKET_COL
        and f.dataType.simpleString() in _STAT_ATOMS
    }
    cols = list(types)
    if not cols:
        return {}, {}
    aggs = []
    for c in cols:
        # INSTANT timestamps are profiled as unix MICROS (tz-free,
        # monotonic): collecting them as datetimes would render in the
        # driver's local timezone, whose DST fall-back fold is
        # non-monotonic — a wrongly-inverted min/max there means a
        # wrong skip later. timestamp_ntz is profiled DIRECTLY: it is
        # already a wall-clock value with wall-clock ordering and
        # collects as a naive datetime with no tz conversion; routing
        # it through cast("timestamp") would bake the WRITER session's
        # timezone offset into the stats, so a reader session with a
        # different spark.sql.session.timeZone would prune wrongly and
        # silently lose rows
        expr = (
            F.unix_micros(F.col(c))
            if types[c] == "timestamp"
            else F.col(c)
        )
        aggs.append(F.min(expr).alias(f"__mn_{c}"))
        aggs.append(F.max(expr).alias(f"__mx_{c}"))
    rows = (
        df.withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(*aggs)
        .collect()
    )  # one row per file in THIS commit
    bucket_stats: dict = {}
    file_stats: dict = {}
    for r in rows:
        # .../commit-<uuid>/pb=<b>/<fname>; input_file_name is a URI
        tail = r["__file"].split(f"/{BUCKET_COL}=", 1)[1]
        b, fname = tail.split("/", 1)
        per_col = {
            c: [_json_stat(r[f"__mn_{c}"]), _json_stat(r[f"__mx_{c}"])]
            for c in cols
        }
        file_stats.setdefault(b, {})[fname] = per_col
        agg = bucket_stats.setdefault(b, {})
        for c, (mn, mx) in per_col.items():
            if c not in agg:
                agg[c] = [mn, mx]
            else:
                omn, omx = agg[c]
                agg[c] = [
                    None if None in (omn, mn) else min(omn, mn),
                    None if None in (omx, mx) else max(omx, mx),
                ]
    return bucket_stats, file_stats


def _write_commit_data(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    n_buckets: int,
    pre_bucketed: bool = False,
    mapping: dict[str, str] | None = None,
    distribution: str = "none",
) -> tuple[str, list[int], dict, dict]:
    """Write bucketed rows under a fresh immutable commit dir; returns
    (relative commit dir, buckets actually written, per-bucket stats,
    per-file stats). ``pre_bucketed`` skips re-hashing when the caller
    already arranged a ``pb`` column and a physical ordering it wants
    preserved (``optimize_table``). ``mapping`` (logical -> physical,
    ``_col_mapping``) renames columns to their PHYSICAL names before
    the write and keys the returned stats back by LOGICAL name, so the
    manifest's skipping metadata stays in the vocabulary every reader
    consults; identity mappings cost nothing (no rename projection)."""
    rel = f"data/commit-{uuid.uuid4().hex}"
    full = os.path.join(path, rel)
    bucketed = df if pre_bucketed else _bucketed(df, key_cols, n_buckets)
    if distribution == "hash" and not pre_bucketed:
        # cluster by bucket before the write (Iceberg's hash
        # distribution mode): one file per bucket dir instead of one
        # per (task, bucket)
        bucketed = bucketed.repartition(n_buckets, F.col(BUCKET_COL))
    mapping = mapping or {}
    renames = {n: p for n, p in mapping.items() if n != p}
    if renames:
        bucketed = bucketed.select(
            *[
                F.col(c).alias(renames.get(c, c))
                for c in bucketed.columns
            ]
        )
    bucketed.write.partitionBy(BUCKET_COL).parquet(full)
    present = [
        int(d.removeprefix(f"{BUCKET_COL}="))
        for d in os.listdir(full)
        if d.startswith(f"{BUCKET_COL}=")
    ]
    # an all-rows-deleted commit writes no buckets: nothing to profile
    if not present:
        return rel, present, {}, {}
    stats, file_stats = _commit_stats(df.sparkSession, full)
    if renames:
        back = {p: n for n, p in renames.items()}
        stats = {
            b: {back.get(c, c): v for c, v in cols.items()}
            for b, cols in stats.items()
        }
        file_stats = {
            b: {
                f: {back.get(c, c): v for c, v in cols.items()}
                for f, cols in files.items()
            }
            for b, files in file_stats.items()
        }
    return rel, present, stats, file_stats


def _commit_blooms(
    spark: SparkSession, full: str, cols: list[str], m: int, k: int
) -> dict:
    """Per-bucket bloom filters over a freshly written commit dir:
    ``{bucket: {col: base64(m-bit array)}}``.

    Zone maps cannot prune an equality probe on an UNCLUSTERED column —
    after enough merges every bucket's [min, max] spans the whole value
    domain, so ``read_table_where`` degrades to a full scan. A bloom
    answers "is value v possibly in bucket b" with no false negatives,
    which is exactly the Delta/parquet bloom-filter data-skipping
    design, kept at the manifest level here.

    Scale shape: hashing is JVM-side (``xxhash64`` twice — the second
    stream salts with a literal — double-hashed into k positions,
    Kirsch–Mitzenmacher); each TASK emits one partial m-bit bloom per
    bucket it saw (``mapInPandas``, no per-bucket pandas materialization
    of rows), and the driver OR-folds the partials — a
    tasks x buckets x m/8-byte collect, metadata-sized by construction,
    like the IVF centroid pull. A production format gets these from the
    parquet writer footer instead; deriving them from the immutable
    files keeps the implementation honest without a writer hook."""
    import base64

    df = spark.read.parquet(full)
    have = set(df.columns)
    present = [c for c in cols if c in have]
    if not present:
        return {}
    # ONE scan for ALL bloom columns (review r8: the per-column loop
    # re-read the whole commit once per column — 3 bloom columns meant
    # 3 full commit reads on every merge/optimize/rebucket). Each
    # column contributes its two hash streams plus a null flag (null
    # rows must set no bits, and xxhash64(NULL) is a real value — the
    # seed hash — so the flag, not the hash, carries nullness).
    sel = [F.col(BUCKET_COL).alias("pb")]
    for i, c in enumerate(present):
        sel.append(F.xxhash64(F.col(c)).alias(f"h1_{i}"))
        sel.append(F.xxhash64(F.col(c), F.lit(1)).alias(f"h2_{i}"))
        sel.append(F.col(c).isNull().alias(f"nl_{i}"))
    h = df.select(*sel)
    n_cols = len(present)

    @on_worker
    def partial(batches):
        import numpy as _np
        import pandas as _pd

        acc: dict[tuple[int, int], _np.ndarray] = {}
        for pdf in batches:
            for pb, g in pdf.groupby("pb"):
                for ci in range(n_cols):
                    ok = ~g[f"nl_{ci}"].to_numpy(bool)
                    if not ok.any():
                        continue
                    bits = acc.setdefault(
                        (int(pb), ci),
                        _np.zeros(m // 8, dtype=_np.uint8),
                    )
                    h1 = (
                        g[f"h1_{ci}"].to_numpy(_np.int64)[ok].view(_np.uint64)
                    )
                    h2 = (
                        g[f"h2_{ci}"].to_numpy(_np.int64)[ok].view(_np.uint64)
                    )
                    for i in range(k):
                        pos = (h1 + _np.uint64(i) * h2) % _np.uint64(m)
                        _np.bitwise_or.at(
                            bits,
                            (pos // 8).astype(_np.int64),
                            (1 << (pos % 8)).astype(_np.uint8),
                        )
        yield _pd.DataFrame(
            {
                "pb": [pb for pb, _ in acc],
                "ci": [ci for _, ci in acc],
                "bloom": [a.tobytes() for a in acc.values()],
            }
        )

    out: dict = {}
    for r in h.mapInPandas(
        partial, "pb int, ci int, bloom binary"
    ).collect():
        col = present[r["ci"]]
        cur = out.setdefault(str(r["pb"]), {})
        if col in cur:
            import numpy as np_

            a = np_.frombuffer(
                base64.b64decode(cur[col]), dtype=np_.uint8
            ) | np_.frombuffer(r["bloom"], dtype=np_.uint8)
            cur[col] = base64.b64encode(a.tobytes()).decode()
        else:
            cur[col] = base64.b64encode(r["bloom"]).decode()
    return out


def _bloom_conf(doc: dict) -> dict | None:
    b = doc.get("bloom")
    return b if b and b.get("cols") else None


def _bloom_value_hashes(spark: SparkSession, value, dt) -> tuple[int, int]:
    """The (h1, h2) streams for a probe value, computed THROUGH SPARK
    with the value cast to the column's declared type — xxhash64 is
    type-sensitive, so hashing driver-side (or at the wrong width)
    would probe the wrong bits and turn "no false negatives" into a
    silent wrong-skip. One 1-row job at planning time (same cost class
    as the timestamp bound resolution above)."""
    lit = F.lit(value).cast(dt)
    r = spark.range(1).select(
        F.xxhash64(lit).alias("h1"), F.xxhash64(lit, F.lit(1)).alias("h2")
    ).first()
    return r["h1"] & 0xFFFFFFFFFFFFFFFF, r["h2"] & 0xFFFFFFFFFFFFFFFF


def _bloom_absent(
    bloom: dict, bucket: str, col: str, h1: int, h2: int
) -> bool:
    """True only when the bucket's bloom PROVES the value absent. A
    bucket with no bloom for the column (pre-bloom manifest, all-null
    commit) is conservatively "maybe present"."""
    import base64

    b64 = bloom.get("buckets", {}).get(bucket, {}).get(col)
    if b64 is None:
        return False
    bits = base64.b64decode(b64)
    m, k = bloom["m"], bloom["k"]
    for i in range(k):
        pos = (h1 + i * h2) % (1 << 64) % m
        if not bits[pos // 8] & (1 << (pos % 8)):
            return True
    return False


def create_table(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    n_buckets: int = 16,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 8192,
    bloom_hashes: int = 6,
    distribution: str = "none",
) -> int:
    """Materialize version 1. Layout is immutable-from-birth: even the
    initial load is a commit dir referenced by a manifest.

    ``bloom_cols`` declares equality-probe data skipping: every commit
    maintains a per-bucket bloom filter for each listed column
    (``bloom_bits`` bits, ``bloom_hashes`` probes), and
    ``read_table_where`` with an equality bound on such a column skips
    buckets the bloom proves value-free — the unclustered-column
    complement to the min/max zone maps. Table-level property, fixed at
    creation like the key layout.

    ``distribution`` is Iceberg's ``write.distribution-mode`` idea:
    ``"none"`` (default) writes with the incoming partitioning — up to
    (input tasks × buckets) files, fine when the input is already
    clustered or an OPTIMIZE follows; ``"hash"`` shuffles the rows by
    bucket before the write so each bucket dir gets ONE file — one
    extra O(changeset) exchange at load time buys every future read a
    per-bucket open instead of the small-files tax (guide §6)."""
    if BUCKET_COL in df.columns:
        # _bucketed would silently overwrite the user's values with the
        # bucket hash and the partition write would then CONSUME the
        # column (reads null-fill it forever) — refuse loudly instead
        raise ValueError(
            f"column name {BUCKET_COL!r} is reserved for the table's "
            "bucket routing; rename it before create_table"
        )
    if distribution not in ("none", "hash"):
        raise ValueError(
            f"distribution must be 'none' or 'hash', got {distribution!r}"
        )
    log_store_for(path).ensure_log(_manifest_dir(path))
    rel, present, stats, file_stats = _write_commit_data(
        df, path, key_cols, n_buckets, distribution=distribution
    )
    from pyspark.sql.types import StructField, StructType

    doc = {
        "version": 1,
        "n_buckets": n_buckets,
        "key_cols": key_cols,
        # the row schema, so an empty version (all rows deleted) stays
        # readable as an empty relation instead of erroring. Fields are
        # recorded NULLABLE regardless of the source expression's
        # incidental nullability: the format's null contract is the
        # DECLARED constraint surface (set_not_null, enforced at every
        # write) — recording a spark.range-derived nullable=false
        # would let a later legal null-bearing merge produce files a
        # strict reader crashes on ("Value at index is null",
        # review r14). Key nulls are refused at _bucketed either way.
        "schema": StructType(
            [
                StructField(f.name, f.dataType, True, f.metadata)
                for f in df.schema.fields
            ]
        ).json(),
        "buckets": {str(b): f"{rel}/{BUCKET_COL}={b}" for b in present},
        "stats": stats,
        "file_stats": file_stats,
    }
    if bloom_cols:
        doc["bloom"] = {
            "cols": list(bloom_cols),
            "m": bloom_bits,
            "k": bloom_hashes,
            "buckets": _commit_blooms(
                df.sparkSession,
                os.path.join(path, rel),
                list(bloom_cols),
                bloom_bits,
                bloom_hashes,
            )
            if present
            else {},
        }
    _commit_manifest(path, 1, doc)
    return 1


def _table_schema(doc: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(doc["schema"]))


def _col_mapping(doc: dict) -> dict[str, str]:
    """logical name -> PHYSICAL parquet column name for the doc's
    schema (identity for unmapped columns — the common case).

    This is the format's field-id column mapping (Iceberg field ids /
    Delta column-mapping, round-11 VERDICT item 4): a column's physical
    name is assigned ONCE when the column is created and never changes,
    so reading any mix of commit files with the current physical schema
    is exact — files predating the column lack its physical name and
    null-backfill; files predating a DROP still carry the dropped
    column's old physical name, which no current mapping selects, so
    re-adding a dropped logical name (which mints a FRESH physical
    name) can never resurrect pre-drop values."""
    m = doc.get("column_mapping") or {}
    return {f.name: m.get(f.name, f.name) for f in _table_schema(doc).fields}


def _used_physical(doc: dict) -> set[str]:
    """Every physical column name this table has ever written — the
    reservation set a new column's physical name must avoid. Derived
    defensively for manifests predating the mapping fields: current
    schema names, mapped physicals, and legacy ``retired_columns`` all
    denote bytes that exist (or existed) in some commit file."""
    names = {f.name for f in _table_schema(doc).fields}
    m = doc.get("column_mapping") or {}
    return (
        set(doc.get("used_physical", []))
        | names
        | set(m.values())
        | set(doc.get("retired_columns", []))
    )


def _carry_evolution(new_doc: dict, doc: dict) -> None:
    """Copy the schema-evolution bookkeeping onto a freshly built
    manifest. Merge/optimize/rebucket construct ``new_doc`` from an
    explicit key list, which silently DROPPED ``retired_columns``
    before this existed — a drop's bookkeeping must survive every
    later commit, or the guarantees anchored to it lapse."""
    for k in (
        "column_mapping",
        "used_physical",
        "max_field_id",
        "retired_columns",
        "constraints",
        "not_null",
    ):
        if doc.get(k) is not None:
            new_doc[k] = doc[k]


def _mapped_scan(
    spark: SparkSession, schema, mapping: dict[str, str], paths: list[str]
) -> DataFrame:
    """Explicit-schema parquet scan under column mapping: read the
    PHYSICAL names, alias back to logical. Identity mappings take the
    untouched fast path (byte-identical plan to the pre-mapping scan —
    the alias projection only ever appears for tables that re-added a
    dropped column)."""
    logical = [f.name for f in schema.fields]
    phys = [mapping.get(n, n) for n in logical]
    if phys == logical:
        return spark.read.schema(schema).parquet(*paths)
    from pyspark.sql.types import StructField, StructType

    pschema = StructType(
        [
            StructField(p, f.dataType, f.nullable)
            for p, f in zip(phys, schema.fields)
        ]
    )
    return spark.read.schema(pschema).parquet(*paths).select(
        *[F.col(p).alias(n) for p, n in zip(phys, logical)]
    )


def _read_buckets(
    spark: SparkSession,
    path: str,
    doc: dict,
    bucket_ids: list[str],
    target_schema=None,
    target_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Exactly the named buckets' data dirs as ONE multi-path scan with
    the manifest schema stated explicitly (empty relation with that
    schema when nothing qualifies).

    One scan, not a union of per-bucket scans: an explicit schema skips
    driver-side footer inference entirely (one less round trip per
    bucket — measured ~0.5 s of fixed cost on an 8-bucket read), the
    listing is a single job, and the plan carries one FileScan node
    whole-stage codegen can fuse. Resolution is by PHYSICAL name under
    the manifest's column mapping (``_col_mapping``): explicit-schema
    scan null-fills physical names a pre-evolution file doesn't carry,
    and a re-added column's fresh physical name makes pre-drop bytes
    unreachable — field-id semantics on vanilla parquet. Callers that
    pass ``target_schema`` (cross-version diff reads) must pass the
    TARGET manifest's mapping too; physical names are assigned once
    and never change, so the target mapping is valid against any
    version's files."""
    schema = target_schema if target_schema is not None else _table_schema(doc)
    mapping = (
        target_mapping
        if target_schema is not None
        else _col_mapping(doc)
    ) or {}
    dirs = [
        _abs_ref(path, doc["buckets"][b])
        for b in sorted(bucket_ids, key=int)
        if b in doc["buckets"]
    ]
    if not dirs:
        return spark.createDataFrame([], schema)
    out = _mapped_scan(spark, schema, mapping, dirs)
    return _minus_tombstones(spark, path, doc, bucket_ids, out)


def _parquet_bytes(dirs: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d in dirs
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _dead_key_side(
    spark: SparkSession, dirs: list[str], key_cols, doc: dict | None = None
):
    """Tombstone-key build side for the readers' anti/semi joins: one
    multi-dir scan, broadcast-hinted iff the on-disk bytes sit under
    the gate. Shared by the snapshot reads AND the batch change feed so
    the gate cannot drift between them (review r8). NO distinct: anti/
    semi joins are duplicate-insensitive on this side, and a distinct's
    hashpartitioning Exchange gets REPLICATED per union branch when
    Catalyst pushes the join below the bucket union
    (PushdownLeftSemiAntiJoin) — measured 8 extra Exchanges once.

    ``doc`` (when the caller has the manifest) supplies the key
    columns' types so the scan states its schema explicitly — schema
    inference otherwise footer-reads every tombstone dir on EVERY plan
    construction (driver-side fixed cost per snapshot read; key-col
    types never drift from the manifest, which validates them at
    create_table)."""
    if doc is not None:
        from pyspark.sql.types import StructType

        fields = {f.name: f for f in _table_schema(doc).fields}
        key_schema = StructType([fields[k] for k in key_cols])
        dead = spark.read.schema(key_schema).parquet(*dirs)
    else:
        dead = spark.read.parquet(*dirs).select(*key_cols)
    if _parquet_bytes(dirs) <= _TOMBSTONE_BROADCAST_MAX_BYTES:
        dead = F.broadcast(dead)
    return dead


def _minus_tombstones(
    spark: SparkSession, path: str, doc: dict, bucket_ids, df: DataFrame
) -> DataFrame:
    """Apply the manifest's merge-on-read deletes: anti-join the
    requested buckets' tombstone key files out of ``df``. Tombstone
    keys are bucket-routed by the same hash as the data, so restricting
    to the read buckets' tombstones is exact. No tombstones → ``df``
    unchanged (the pre-tombstone plan, no extra join node).

    The broadcast hint is SIZE-GATED on the tombstone files' on-disk
    bytes (a metadata stat, no job): typical retention/GDPR deletes are
    tiny and the hint keeps the big side shuffle-free, but a bulk
    delete (10 % of a 100 TB table is TBs of keys) must NOT be forced
    driver-side — past the threshold the hint is dropped and the
    anti-join plans as a regular shuffle join (AQE may still choose
    broadcast if runtime stats allow)."""
    tombs = doc.get("tombstones", {})
    dirs = [
        _abs_ref(path, rel)
        for b in bucket_ids
        for rel in tombs.get(str(b), [])
    ]
    if not dirs:
        return df
    key_cols = doc["key_cols"]
    on_disk = _parquet_bytes(dirs)
    # TINY delete sets (the common retention/GDPR case) fold into the
    # scan as a NOT-isin predicate instead of a join: Catalyst compiles
    # a large IN to an InSet hash probe inside whole-stage codegen, so
    # the read pays zero extra stages — Delta's in-memory deletion
    # vector, in predicate form. The keys are read driver-side with
    # pyarrow (no Spark job — construction stays job-free), double-
    # gated on bytes AND row count so a bulk delete can never blow up
    # the plan tree; past the gate the anti-join below handles any
    # size. Single-key tables only: a composite key would need a
    # struct-isin that codegen handles far worse than the join.
    if len(key_cols) == 1 and on_disk <= _TOMBSTONE_INLINE_MAX_BYTES:
        import pyarrow.dataset as pads
        import pyarrow.parquet as _pq

        files = [
            os.path.join(d, f)
            for d in dirs
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        try:
            # footer-count pre-gate (r14): decide inline-vs-join from
            # metadata BEFORE materializing the keys — a delete set just
            # under the byte gate but over the key gate otherwise pays a
            # full driver-side key read on every plan construction only
            # to be thrown away (measured ~40 ms per snapshot read)
            n_keys = sum(
                _pq.read_metadata(f).num_rows for f in files
            )
            keys = (
                pads.dataset(files, format="parquet")
                .to_table(columns=key_cols)
                .column(0)
                .to_pylist()
                if n_keys <= _TOMBSTONE_INLINE_MAX_KEYS
                else None
            )
        except Exception:  # unreadable → fall through to the join path
            keys = None
        if keys is not None and len(keys) <= _TOMBSTONE_INLINE_MAX_KEYS:
            # drop null tombstone keys (equality never matches them in
            # the anti-join either) and keep null-keyed DATA rows (the
            # anti-join keeps them; a bare NOT-isin would null them out)
            keys = [k for k in keys if k is not None]
            if not keys:
                return df
            c = F.col(key_cols[0])
            return df.where(c.isNull() | ~c.isin(keys))
    return df.join(
        _dead_key_side(spark, dirs, key_cols, doc=doc), key_cols, "left_anti"
    )


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: exactly the files the chosen manifest references.
    ``version=None`` reads the current version; an explicit version is
    time travel (valid until ``vacuum`` drops it)."""
    v = current_version(path) if version is None else version
    doc = _read_retained_manifest(path, v)
    return _read_buckets(spark, path, doc, list(doc["buckets"]))


def read_table_where(
    spark: SparkSession,
    path: str,
    col: str | None = None,
    lo=None,
    hi=None,
    version: int | None = None,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Zone-map-pruned snapshot read: rows with ``lo <= col <= hi``
    (either bound may be None = unbounded), reading ONLY the buckets
    whose manifest min/max for ``col`` intersects the range.

    ``where=[(col, lo, hi), ...]`` states a CONJUNCTION of range
    predicates: a bucket/file is skipped when ANY predicate provably
    misses it, every residual is applied, and equality predicates on
    bloom-tracked columns each get their bloom veto. Over a Z-ordered
    layout (``optimize_table(zorder_by=...)``) this is true
    multi-dimensional skipping — each file's tight box in every
    clustered dimension prunes independently, and their intersection
    is what a 2-D range query actually opens.

    This is pruning ABOVE the engine — a skipped bucket's files are
    never listed, opened, or footer-read, which at 100 TB is the
    difference between a metadata operation and a scan. Buckets with
    no recorded stats for ``col`` (all-null, NaN bound, non-atomic
    type, or a pre-stats manifest) are conservatively read. The
    residual filter is still applied, so the result is EXACT — zone
    maps only ever skip provably-disjoint buckets.

    Date/timestamp columns: pass ISO-format string bounds. Temporal
    comparisons are PARSED, not lexicographic — a user bound like
    ``"...05.123"`` and a stored stat like ``"...05.123000"`` denote
    the same instant but differ as strings, and a string compare could
    wrongly skip a bucket; parsing both sides removes the hazard.
    """
    preds = [(c, plo, phi) for (c, plo, phi) in (where or [])]
    if col is not None:
        preds.append((col, lo, hi))
    if not preds:
        raise ValueError(
            "read_table_where needs col=/lo=/hi= or where=[(col, lo, hi), ...]"
        )
    v = current_version(path) if version is None else version
    doc = _read_retained_manifest(path, v)
    schema = _table_schema(doc)
    field_types = {f.name: f.dataType.simpleString() for f in schema.fields}

    def _bounder(c: str):
        """Per-column prune-space resolver: dates parse to date
        objects; timestamp STATS are already unix micros (see
        _commit_stats), and a timestamp user bound is resolved to
        micros THROUGH SPARK, so the skip decision and the residual
        filter interpret the literal with identical session-timezone
        semantics."""
        field_type = field_types.get(c, "")
        is_ts = field_type.startswith("timestamp")

        def bound(x):
            if x is None:
                return x
            if field_type == "date":
                return (
                    datetime.date.fromisoformat(x)
                    if isinstance(x, str)
                    else x
                )
            if field_type == "timestamp_ntz":
                # wall-clock space end to end: stats are isoformat wall
                # strings (see _commit_stats) and user bounds are wall
                # strings/naive datetimes — no session timezone
                # anywhere, so a reader session with a different
                # timeZone conf prunes identically to the writer. An
                # int here is a legacy writer-tz micros stat:
                # uninterpretable → unknown (read).
                if isinstance(x, int):
                    return None
                return (
                    datetime.datetime.fromisoformat(x)
                    if isinstance(x, str)
                    else x
                )
            if is_ts:
                if isinstance(x, int):
                    return x  # a stored stat: already micros
                return spark.range(1).select(
                    F.unix_micros(F.to_timestamp(F.lit(x)))
                ).first()[0]
            return x

        return field_type, is_ts, bound

    # one resolved context per predicate: (col, bound fn, prune lo/hi)
    ctxs = []
    for c, plo, phi in preds:
        field_type, is_ts, bound = _bounder(c)
        ctxs.append((c, field_type, is_ts, bound, bound(plo), bound(phi)))

    def disjoint(bound, p_lo, p_hi, rng) -> bool:
        """True only when the recorded range PROVABLY misses [lo, hi]."""
        if rng is None or rng[0] is None or rng[1] is None:
            return False  # unknown → must read
        mn, mx = bound(rng[0]), bound(rng[1])
        if mn is None or mx is None:
            return False  # uninterpretable stat (legacy format) → read
        return (p_hi is not None and mn > p_hi) or (
            p_lo is not None and mx < p_lo
        )

    def any_disjoint(col_ranges: dict) -> bool:
        """A bucket/file is skippable when ANY predicate provably
        misses it — conjunctive predicates compose skips for free,
        which is exactly what a Z-ordered layout (optimize_table
        zorder_by) turns into multi-dimensional pruning."""
        return any(
            disjoint(bound, p_lo, p_hi, col_ranges.get(c))
            for c, _ft, _ts, bound, p_lo, p_hi in ctxs
        )

    stats = doc.get("stats", {})
    fstats = doc.get("file_stats", {})
    # equality probe on a bloom-tracked column: resolve the value's two
    # hash streams once, then let each bucket's bloom veto the read —
    # the skip zone maps cannot provide once merges have smeared every
    # bucket's [min, max] across the value domain
    bloom = _bloom_conf(doc)
    bhs = []
    if bloom is not None:
        for c, plo, phi in preds:
            if c in bloom["cols"] and plo is not None and plo == phi:
                bhs.append(
                    (c, _bloom_value_hashes(spark, plo, field_types.get(c) or "string"))
                )
    # qualifying dirs/files accumulate into ONE multi-path explicit-
    # schema scan — same single-FileScan rationale as _read_buckets
    paths: list[str] = []
    read_buckets = []
    for b in sorted(doc["buckets"], key=int):
        if any_disjoint(stats.get(b, {})):
            continue  # bucket-level skip: dir never listed
        if any(
            _bloom_absent(bloom, b, c, *bh) for c, bh in bhs
        ):
            continue  # bloom skip: value provably not in this bucket
        read_buckets.append(b)
        bdir = _abs_ref(path, doc["buckets"][b])
        fmap = fstats.get(b)
        if not fmap:  # pre-file-stats manifest → whole dir
            paths.append(bdir)
            continue
        # file-level skip: the manifest IS the file list (the commit
        # that wrote the dir profiled every file in it), so a pruned
        # read opens exactly the intersecting files
        paths.extend(
            os.path.join(bdir, fname)
            for fname, cols_rng in sorted(fmap.items())
            if not any_disjoint(cols_rng)
        )
    if not paths:
        out = spark.createDataFrame([], schema)
    else:
        out = _mapped_scan(spark, schema, _col_mapping(doc), paths)
        # merge-on-read deletes: zone maps and blooms may still claim a
        # tombstoned row (stats stay conservative until a rewrite folds
        # the tombstones), so the anti-join below is what keeps a
        # pruned read EXACT after delete_keys
        out = _minus_tombstones(spark, path, doc, read_buckets, out)
    # residual filters (ctxs[i] is preds[i]'s resolved context, so the
    # ORIGINAL user bounds pair with their own column even when one
    # column appears in several predicates)
    for (c, u_lo, u_hi), (_c, field_type, is_ts, bound, _plo, _phi) in zip(
        preds, ctxs
    ):

        def lit_bound(x, field_type=field_type, is_ts=is_ts, bound=bound):
            if field_type == "timestamp_ntz":
                # parse the wall string AS ntz directly — to_timestamp
                # would route through the reader session timezone, whose
                # DST spring-forward gap shifts unrepresentable wall
                # times
                return F.lit(x).cast("timestamp_ntz")
            if is_ts:
                if isinstance(x, int):
                    # an integer timestamp bound is unix MICROS — the
                    # same unit the prune space resolved it as; running
                    # it through to_timestamp would read SECONDS and
                    # the residual filter would disagree with the skip
                    # decision by a factor of 10^6 (review r8)
                    return F.timestamp_micros(F.lit(x)).cast(field_type)
                # same literal semantics as the prune-space resolution
                return F.to_timestamp(F.lit(x)).cast(field_type)
            return F.lit(bound(x))

        cc = F.col(c)
        if u_lo is not None:
            out = out.filter(cc >= lit_bound(u_lo))
        if u_hi is not None:
            out = out.filter(cc <= lit_bound(u_hi))
    return out


def read_table_for_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """Point-lookup read: the table rows whose key matches a row of
    ``keys`` (a small DataFrame with exactly the table's key columns).

    The key hash IS the physical layout, so the lookup resolves each
    key to its one bucket with arithmetic (the same
    ``pmod(xxhash64(keys), n)`` the writer used) and reads only those
    buckets — a k-key lookup against a 100 TB table touches at most k
    buckets regardless of table size. The residual semi join against
    the broadcast key set keeps the result exact."""
    v = current_version(path) if version is None else version
    doc = _read_retained_manifest(path, v)
    key_cols, n_buckets = doc["key_cols"], doc["n_buckets"]
    # cast lookup keys to the table's declared key types before
    # hashing — xxhash64 is type-sensitive, and an int literal probing
    # a bigint key would route to the wrong bucket (a silent miss)
    types = {f.name: f.dataType for f in _table_schema(doc).fields}
    keys = keys.select(
        *[F.col(k).cast(types[k]).alias(k) for k in key_cols]
    ).distinct()
    bloom = _bloom_conf(doc)
    if (
        bloom is not None
        and len(key_cols) == 1
        and key_cols[0] in bloom["cols"]
    ):
        # miss-heavy lookups: the bloom vetoes the routed bucket when
        # the key is provably absent, so probing a key the table never
        # held reads ZERO files instead of one bucket. Hash streams
        # come back from the same (small) collect that resolves bucket
        # routing — no extra job.
        kc = key_cols[0]
        rows = (
            _bucketed(keys, key_cols, n_buckets)
            .select(
                BUCKET_COL,
                F.xxhash64(F.col(kc)).alias("__h1"),
                F.xxhash64(F.col(kc), F.lit(1)).alias("__h2"),
            )
            .collect()  # bounded by the (small) key-set size
        )
        wanted = sorted(
            {
                str(r[BUCKET_COL])
                for r in rows
                if not _bloom_absent(
                    bloom,
                    str(r[BUCKET_COL]),
                    kc,
                    r["__h1"] & 0xFFFFFFFFFFFFFFFF,
                    r["__h2"] & 0xFFFFFFFFFFFFFFFF,
                )
            }
        )
    else:
        wanted = [
            str(r[BUCKET_COL])
            for r in _bucketed(keys, key_cols, n_buckets)
            .select(BUCKET_COL)
            .distinct()
            .collect()  # bounded by the (small) key-set size
        ]
    out = _read_buckets(spark, path, doc, wanted)
    return out.join(F.broadcast(keys), key_cols, "semi")


def table_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    include_preimages: bool = False,
) -> DataFrame:
    """Change-data-feed read: the row-level delta between two committed
    snapshots, as the table columns plus ``_change_type`` in
    {'insert', 'delete', 'update_postimage'}.

    ``include_preimages=True`` widens updates to the Delta-style
    four-type feed: each updated key emits BOTH an ``update_preimage``
    row (the old values) and an ``update_postimage`` row. Pre-images
    are what downstream incremental consumers subtract — a materialized
    aggregate maintains itself from the feed alone as
    sum(signed contribution), +1 for insert/update_postimage, -1 for
    delete/update_preimage (x224) — without re-reading the old
    snapshot. Default stays post-image-only: the three-type feed is
    the replication contract (apply = upsert ∪ delete) and its shape
    is pinned by the x211 oracle.

    Pruning is manifest-level FIRST: a bucket whose data dir is
    byte-identical between the two manifests (dirs are immutable, so
    same path == same rows) is skipped without reading — the diff
    reads only buckets some commit in (v_from, v_to] actually rewrote,
    so its cost tracks the churn, not the table. Within a rewritten
    bucket, a full outer join on the key classifies each key, and an
    md5-of-row comparison drops carried-over rows that were rewritten
    byte-identically (a bucket rewrite copies untouched keys).

    Field-id semantics across a DROP + re-ADD of the same logical
    name (deliberate, matching the format's column mapping): a window
    spanning both commits reads the v_from side of that column as NULL
    — the re-added column is a NEW column whose fresh physical name is
    absent from pre-drop files, so pre-drop values are NOT its
    pre-images (they belong to a column that no longer exists). A
    consumer that needs the dropped column's final values must read a
    window ENDING at or before the drop; the spanning window's
    pre-images/updates for the re-added name start from NULL, exactly
    as for any column added mid-window."""
    doc_a = _read_retained_manifest(path, v_from)
    doc_b = _read_retained_manifest(path, v_to)
    if doc_a["key_cols"] != doc_b["key_cols"]:
        raise ValueError("key_cols changed between versions")
    key_cols = doc_a["key_cols"]
    tomb_a = doc_a.get("tombstones", {})
    tomb_b = doc_b.get("tombstones", {})
    endpoint_changed = manifest.buckets_changed_between(doc_a, doc_b)
    try:
        # manifest-chain walk: buckets repointed ONLY by layout_only
        # commits (optimize_table) hold identical rows and are skipped
        changed = sorted(
            manifest.changed_buckets_between(
                lambda v: _read_manifest(path, v), v_from, v_to
            )
            & endpoint_changed
        )
    except (FileNotFoundError, BucketLayoutChanged):
        # vacuumed intermediate manifest, or the window spans a
        # rebucket_table commit (bucket ids not comparable across the
        # two hash layouts): fall back to the endpoint pointer diff.
        # Across a rebucket every pointer differs, so this reads both
        # FULL endpoint snapshots — the key-level outer join below is
        # then a global diff, which is exact (carried-over rows net to
        # zero via the fingerprints); only the pruning is lost.
        changed = sorted(endpoint_changed)
    # tombstone-only buckets: pointer identical at both endpoints, only
    # the tombstone list grew (dirs are immutable and every fold
    # repoints, so an unrepointed bucket's list is append-only across
    # the window). Their diff is EXACTLY the delta tombstones' keys —
    # read the bucket once and semi-join the (tiny) key delta instead
    # of outer-joining the bucket against itself.
    # ... and the window's tombstone change must be GENUINE GROWTH:
    # a restore_table commit can repoint a bucket to a manifest whose
    # tombstone list is SHORTER (deleted keys coming back), which the
    # delta-tombstones shortcut cannot express — such buckets take the
    # full outer-join path, whose content diff is exact for any shape
    tomb_only = [
        b
        for b in changed
        if doc_a["buckets"].get(b) is not None
        and doc_a["buckets"].get(b) == doc_b["buckets"].get(b)
        and set(tomb_a.get(b, [])) < set(tomb_b.get(b, []))
    ]
    changed = [b for b in changed if b not in set(tomb_only)]
    # both sides project to the TARGET schema, so a diff across an
    # add_column boundary compares null-backfilled old rows against new
    # rows (a metadata-only commit alone changes no data dir → no rows)
    target = _table_schema(doc_b)
    tmap = _col_mapping(doc_b)  # physical names are stable across versions
    old = _read_buckets(
        spark, path, doc_a, changed, target_schema=target,
        target_mapping=tmap,
    )
    new = _read_buckets(
        spark, path, doc_b, changed, target_schema=target,
        target_mapping=tmap,
    )
    cols = old.columns
    val_cols = [c for c in cols if c not in key_cols]

    def fingerprinted(df: DataFrame, tag: str) -> DataFrame:
        fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in sorted(cols)])))
        return df.select(
            *key_cols,
            F.struct(*[F.col(c) for c in val_cols]).alias(f"_row_{tag}"),
            fp.alias(f"_fp_{tag}"),
        )

    joined = fingerprinted(old, "old").join(
        fingerprinted(new, "new"), key_cols, "full_outer"
    )
    if include_preimages:
        # single pass over the outer join: each key classifies to an
        # ARRAY of (type, row) structs — null for carried-over rows
        # (explode drops nulls) — so the four-type feed never computes
        # the bucket diff twice. An update contributes two array
        # elements sharing the key's one joined row.
        pair = (
            F.when(
                F.col("_fp_old").isNull(),
                F.array(
                    F.struct(
                        F.lit("insert").alias("t"),
                        F.col("_row_new").alias("r"),
                    )
                ),
            )
            .when(
                F.col("_fp_new").isNull(),
                F.array(
                    F.struct(
                        F.lit("delete").alias("t"),
                        F.col("_row_old").alias("r"),
                    )
                ),
            )
            .when(
                F.col("_fp_old") != F.col("_fp_new"),
                F.array(
                    F.struct(
                        F.lit("update_preimage").alias("t"),
                        F.col("_row_old").alias("r"),
                    ),
                    F.struct(
                        F.lit("update_postimage").alias("t"),
                        F.col("_row_new").alias("r"),
                    ),
                ),
            )
        )
        out = joined.select(*key_cols, F.explode(pair).alias("_c")).select(
            *key_cols,
            *[F.col(f"_c.r.{c}").alias(c) for c in val_cols],
            F.col("_c.t").alias("_change_type"),
        )
    else:
        classified = joined.select(
            *key_cols,
            F.when(F.col("_fp_old").isNull(), F.lit("insert"))
            .when(F.col("_fp_new").isNull(), F.lit("delete"))
            .when(
                F.col("_fp_old") != F.col("_fp_new"),
                F.lit("update_postimage"),
            )
            .alias("_change_type"),
            F.coalesce(F.col("_row_new"), F.col("_row_old")).alias("_row"),
        ).filter(F.col("_change_type").isNotNull())
        out = classified.select(
            *key_cols,
            *[F.col(f"_row.{c}").alias(c) for c in val_cols],
            "_change_type",
        )
    if tomb_only:
        delta_dirs = [
            _abs_ref(path, rel)
            for b in tomb_only
            for rel in tomb_b.get(b, [])
            if rel not in set(tomb_a.get(b, []))
        ]
        # effective rows at A, restricted to the window's new dead keys
        # = the deletes (pre-image contract), nothing else can differ
        eff_a = _read_buckets(
            spark, path, doc_a, tomb_only, target_schema=target,
            target_mapping=tmap,
        )
        dead = _dead_key_side(spark, delta_dirs, key_cols, doc=doc_b)
        deletes = eff_a.join(dead, key_cols, "semi").select(
            *key_cols,
            *[F.col(c) for c in val_cols],
            F.lit("delete").alias("_change_type"),
        )
        out = out.unionByName(deletes)
    return out


def add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """CHECK constraint (Delta's ``ALTER TABLE … ADD CONSTRAINT name
    CHECK (expr)``): a named SQL predicate every row must satisfy,
    recorded in the manifest and ENFORCED at the write chokepoint —
    every subsequent changeset upsert/insert evaluates it inside the
    write job (``merge_table``'s guard projection; a violating row
    raises executor-side before any manifest links, so a failed write
    publishes nothing). Existing rows are validated HERE, with one
    bounded scan (violations refuse the constraint — Delta's ADD
    CONSTRAINT contract: a constraint never holds vacuously over data
    that already breaks it). The commit itself is metadata-only.

    NULL predicate results count as violations (stricter than SQL
    CHECK's unknown-passes rule, deliberately: a constraint whose
    expression cannot evaluate on a row is not evidence the row is
    fine — and silent unknown-passes is how bad rows leak through
    half-typed predicates)."""
    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    cons = dict(doc.get("constraints", {}))
    if name in cons:
        if cons[name] == expr:
            return base_v  # retry of our own durable add: converge
        raise ValueError(
            f"constraint {name!r} already exists with a different "
            f"expression ({cons[name]!r})"
        )
    bad = (
        read_table(spark, path, version=base_v)
        .where(~F.coalesce(F.expr(expr), F.lit(False)))
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"existing rows violate CHECK ({expr}): a constraint must "
            "hold over the data it is declared on — clean up first "
            "(UPDATE/DELETE), then add it"
        )
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    new_doc["constraints"] = {**cons, name: expr}
    new_doc.pop("layout_only", None)
    new_doc.pop("restored_from", None)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def drop_constraint(path: str, name: str) -> int:
    """Remove a named CHECK constraint (metadata-only commit).
    Dropping an absent name no-ops at the current version (the
    ambiguous-retry convergence contract)."""
    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    cons = dict(doc.get("constraints", {}))
    if name not in cons:
        return base_v
    del cons[name]
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    if cons:
        new_doc["constraints"] = cons
    else:
        new_doc.pop("constraints", None)
    new_doc.pop("layout_only", None)
    new_doc.pop("restored_from", None)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def set_not_null(spark: SparkSession, path: str, col: str) -> int:
    """Declare a non-key column NOT NULL (Delta's ``ALTER TABLE …
    ALTER COLUMN c SET NOT NULL``): recorded in the manifest and
    ENFORCED at the write chokepoint — every later changeset
    upsert/insert that would land a NULL in the column raises
    executor-side inside the write job, publishing nothing (same
    ``_constraint_guard`` rail as CHECK constraints; deletes are exempt
    by construction, and a narrow pre-evolution changeset passes when
    the BASE value it preserves is non-null). Existing rows are
    validated here with one bounded scan; violations refuse the
    declaration (a NOT NULL never holds vacuously over data that
    already breaks it). The commit itself is metadata-only.

    Key columns are refused: the key is already null-free by
    construction (``_bucketed`` raises on any null key component), so a
    declared NOT NULL there would be dead weight that still costs a
    validation scan. Repeating an existing declaration returns the
    current version (ambiguous-retry convergence, same contract as
    ``add_constraint``)."""
    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    schema_cols = [f.name for f in _table_schema(doc).fields]
    if col not in schema_cols:
        raise ValueError(
            f"column {col!r} is not in the table schema {schema_cols}"
        )
    if col in doc["key_cols"]:
        raise ValueError(
            f"key column {col!r} is implicitly NOT NULL (null key "
            "components are refused at the bucket routing); declaring "
            "it is not supported"
        )
    declared = list(doc.get("not_null", []))
    if col in declared:
        return base_v  # retry of our own durable declaration: converge
    bad = (
        read_table(spark, path, version=base_v)
        .where(F.col(col).isNull())
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"existing rows hold NULL in {col!r}: NOT NULL must hold "
            "over the data it is declared on — clean up first "
            "(UPDATE/DELETE), then declare it"
        )
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    new_doc["not_null"] = sorted(declared + [col])
    new_doc.pop("layout_only", None)
    new_doc.pop("restored_from", None)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def drop_not_null(path: str, col: str) -> int:
    """Remove a NOT NULL declaration (metadata-only commit). Dropping
    an undeclared column no-ops at the current version (the
    ambiguous-retry convergence contract)."""
    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    declared = list(doc.get("not_null", []))
    if col not in declared:
        return base_v
    declared.remove(col)
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    if declared:
        new_doc["not_null"] = declared
    else:
        new_doc.pop("not_null", None)
    new_doc.pop("layout_only", None)
    new_doc.pop("restored_from", None)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def _constraint_guard(doc: dict, df: DataFrame) -> DataFrame:
    """Wrap the post-merge relation with the manifest's CHECK
    constraints and declared NOT NULL columns: any surviving row
    failing (or nulling) a predicate, or carrying NULL in a NOT NULL
    column, raises executor-side, riding the write job itself — zero
    extra passes, and a mid-write raise publishes nothing (the manifest
    link is the commit point). Deletes never reach this relation."""
    cons = doc.get("constraints") or {}
    not_null = doc.get("not_null") or []
    if not cons and not not_null:
        return df
    guard = None
    for name, expr in sorted(cons.items()):
        ok = F.coalesce(F.expr(expr), F.lit(False))
        failed = F.when(
            ~ok,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"CHECK constraint {name!r} violated "
                        f"(({expr}) is not true) for row key="
                    ),
                    F.to_json(F.struct(*[F.col(c) for c in df.columns])),
                )
            ),
        )
        guard = failed if guard is None else F.coalesce(guard, failed)
    for col in not_null:
        failed = F.when(
            F.col(col).isNull(),
            F.raise_error(
                F.concat(
                    F.lit(
                        f"NOT NULL constraint violated: column "
                        f"{col!r} is null for row key="
                    ),
                    F.to_json(F.struct(*[F.col(c) for c in df.columns])),
                )
            ),
        )
        guard = failed if guard is None else F.coalesce(guard, failed)
    # the guard column is all-null when every row passes; it must be
    # SELECTED so codegen evaluates it, then dropped before the write
    return df.withColumn("__check", guard).where(
        F.col("__check").isNull()
    ).drop("__check")


def add_column(path: str, name: str, ddl_type: str) -> int:
    """Schema evolution: append a nullable column as a METADATA-ONLY
    commit — no data file is touched (the manifest's buckets and stats
    carry over by reference), so the commit costs one JSON write at any
    table size. Readers null-backfill the column for buckets written
    before the evolution (explicit-schema scan, ``_read_buckets``); a
    later MERGE that rewrites a
    bucket materializes real values and zone-map stats for it.

    ``ddl_type`` is a Spark DDL type string (``"bigint"``,
    ``"string"``, ...). Re-adding a DROPPED name is supported via the
    format's column mapping (Iceberg field-id semantics,
    ``_col_mapping``): the new column gets a FRESH physical parquet
    name (``<name>__fid<n>``), so pre-drop files' bytes under the old
    physical name are unreachable forever — old values stay dead, no
    resurrection. First-time names keep the identity physical name
    (zero read/write overhead). Rename is still out of scope.

    IDEMPOTENT on exact repeats: if the column already exists WITH THE
    SAME TYPE, this returns the current version instead of raising —
    so a caller retrying after an ambiguous commit failure (the put
    was durable, the acknowledgment lost; see ``_commit_manifest``)
    converges instead of being told its own evolution is a duplicate.
    A same-name DIFFERENT-type request still raises: that's a real
    conflict, not a retry."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    schema = _table_schema(doc)
    existing = {f.name: f.dataType for f in schema.fields}
    if name in existing:
        if existing[name] == _parse_datatype_string(ddl_type):
            return base_v  # retry of our own already-durable evolution
        raise ValueError(
            f"column {name!r} already exists with type "
            f"{existing[name].simpleString()!r} (requested {ddl_type!r})"
        )
    new_schema = StructType(
        list(schema.fields)
        + [StructField(name, _parse_datatype_string(ddl_type), True)]
    )
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    new_doc["schema"] = new_schema.json()
    # physical-name assignment: identity unless the name was EVER used
    # before (a re-add after drop) — then mint a fresh physical name so
    # pre-drop bytes stay unreachable (field-id semantics; the mapping
    # entry is permanent for the column's lifetime)
    used = _used_physical(doc)
    if name in used:
        n = int(doc.get("max_field_id", len(used)))
        physical = f"{name}__fid{n + 1}"
        while physical in used:
            n += 1
            physical = f"{name}__fid{n + 1}"
        new_doc["max_field_id"] = n + 1
        new_doc["column_mapping"] = {
            **(doc.get("column_mapping") or {}),
            name: physical,
        }
    else:
        physical = name
    new_doc["used_physical"] = sorted(used | {physical})
    # a stale flag from a preceding optimize_table commit must not
    # label this METADATA commit as a layout rewrite
    new_doc.pop("layout_only", None)
    # restore/clone provenance describes ONE commit; carrying it
    # forward would misattribute every later commit in DESCRIBE
    # HISTORY
    new_doc.pop("restored_from", None)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def widen_column_type(path: str, name: str, new_type: str) -> int:
    """Schema evolution leg 3: widen a non-key column's type as a
    METADATA-ONLY commit (Iceberg's type promotion / Delta's type
    widening). No data file is touched — readers state the widened
    schema explicitly and Spark's parquet scan upcasts old files'
    narrower physical values natively; buckets rewritten later
    materialize the wide type. Only the lossless ladder is legal
    (``manifest.SAFE_WIDENINGS``); narrowing and lossy pairs refuse.

    Key columns refuse: the key hash IS the physical layout and
    ``xxhash64`` is type-sensitive, so widening a key would re-route
    every existing key to a different bucket (the same reason bloom
    columns refuse — their hash streams were computed at the old
    type; drop the bloom first, widen, re-declare).

    IDEMPOTENT on exact repeats (column already AT ``new_type``
    returns the current version — ambiguous-retry convergence, same
    contract as ``add_column``). Readers on the OLD schema: time
    travel to a pre-widening version reads with that version's
    narrower schema against files that are all narrow at that version
    — exact; the streaming CDF's pinned declared schema detects the
    type change and fails loudly asking for a restart."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    schema = _table_schema(doc)
    fields = {f.name: f for f in schema.fields}
    if name not in fields:
        raise ValueError(
            f"column {name!r} is not in the table schema "
            f"{[f.name for f in schema.fields]}"
        )
    if name in doc["key_cols"]:
        raise ValueError(
            f"key column {name!r} cannot be widened: the key hash is "
            "the bucket layout and xxhash64 is type-sensitive — every "
            "existing key would re-route"
        )
    bloom_cols = set((doc.get("bloom") or {}).get("cols", []))
    if name in bloom_cols:
        raise ValueError(
            f"column {name!r} carries a bloom filter built at its "
            "current type (xxhash64 is type-sensitive): drop the bloom "
            "first, widen, then re-declare it"
        )
    old = fields[name].dataType.simpleString()
    target = _parse_datatype_string(new_type)
    new = target.simpleString()
    if new == old:
        return base_v  # retry of our own durable widening: converge
    if new not in manifest.SAFE_WIDENINGS.get(old, set()):
        raise ValueError(
            f"widening {old} -> {new} is not lossless; legal "
            f"promotions: {manifest.SAFE_WIDENINGS}"
        )
    new_schema = StructType(
        [
            StructField(f.name, target if f.name == name else f.dataType,
                        f.nullable)
            for f in schema.fields
        ]
    )
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    new_doc["schema"] = new_schema.json()
    new_doc.pop("layout_only", None)
    new_doc.pop("restored_from", None)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def drop_column(path: str, name: str) -> int:
    """Schema evolution: DROP a non-key column as a METADATA-ONLY
    commit. No data file is touched — readers project to the manifest
    schema by name (explicit-schema scan), so old files' bytes for the
    column are simply never selected; a later bucket rewrite stops
    writing them physically.

    The dropped column's PHYSICAL parquet name stays reserved forever
    (``used_physical`` / legacy ``retired_columns``), so a later
    ``add_column`` of the same logical name mints a fresh physical
    name under the column mapping and pre-drop bytes can never
    resurrect — Iceberg field-id semantics (round-11 VERDICT item 4;
    previously the name was permanently retired instead). Any mapping
    entry the column held is removed with it. The column's zone-map /
    file-stat / bloom entries are stripped in the same commit, so data
    skipping never consults a ghost column (a later range read naming
    it fails at predicate resolution, loudly).

    IDEMPOTENT on exact repeats: dropping a column that is absent but
    recorded as previously dropped returns the current version (the
    ambiguous-retry convergence contract, mirroring ``add_column``);
    dropping a column the table never had raises."""
    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    schema = _table_schema(doc)
    names = [f.name for f in schema.fields]
    if name not in names:
        if name in doc.get("retired_columns", []):
            return base_v  # retry of our own already-durable drop
        raise ValueError(f"column {name!r} does not exist")
    if name in doc["key_cols"]:
        raise ValueError(
            f"column {name!r} is a key column: the key is the row "
            "identity and its bucket routing — it cannot be dropped"
        )
    # conservative word-boundary scan of CHECK expressions: dropping a
    # referenced column would make every later write fail at predicate
    # resolution — refuse HERE with the constraint named instead
    import re as _re

    for cname, cexpr in (doc.get("constraints") or {}).items():
        if _re.search(rf"\b{_re.escape(name)}\b", cexpr):
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint "
                f"{cname!r} (({cexpr})): drop_constraint first"
            )
    from pyspark.sql.types import StructType

    new_schema = StructType([f for f in schema.fields if f.name != name])
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    new_doc["schema"] = new_schema.json()
    # retired_columns now records "this logical name was dropped at
    # some point" — it drives retry idempotence and reserves the
    # identity physical name; re-adding is ALLOWED (fresh physical)
    new_doc["retired_columns"] = sorted(
        set(doc.get("retired_columns", [])) | {name}
    )
    # the physical name stays reserved forever; the mapping entry dies
    # with the logical column
    new_doc["used_physical"] = sorted(_used_physical(doc))
    # a NOT NULL declaration dies with its column (a re-added same-name
    # column is a NEW column under field-id semantics — it starts
    # nullable, like any add_column)
    if name in (doc.get("not_null") or []):
        remaining_nn = [c for c in doc["not_null"] if c != name]
        if remaining_nn:
            new_doc["not_null"] = remaining_nn
        else:
            new_doc.pop("not_null", None)
    mapping = doc.get("column_mapping") or {}
    if name in mapping:
        remaining = {k: v for k, v in mapping.items() if k != name}
        if remaining:
            new_doc["column_mapping"] = remaining
        else:
            new_doc.pop("column_mapping", None)
    # strip the column's skipping metadata: stats, per-file stats,
    # bloom membership — pruning must never consult a ghost
    if doc.get("stats"):
        new_doc["stats"] = {
            b: {c: v for c, v in cols.items() if c != name}
            for b, cols in doc["stats"].items()
        }
    if doc.get("file_stats"):
        new_doc["file_stats"] = {
            b: {
                f: {c: v for c, v in cols.items() if c != name}
                for f, cols in files.items()
            }
            for b, files in doc["file_stats"].items()
        }
    bloom = doc.get("bloom")
    if bloom and name in bloom.get("cols", []):
        new_cols = [c for c in bloom["cols"] if c != name]
        if new_cols:
            new_doc["bloom"] = {
                **bloom,
                "cols": new_cols,
                "buckets": {
                    b: {c: v for c, v in per.items() if c != name}
                    for b, per in bloom.get("buckets", {}).items()
                },
            }
        else:
            new_doc.pop("bloom", None)
    new_doc.pop("layout_only", None)
    new_doc.pop("restored_from", None)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def merge_table(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    op_col: str = OP_COL,
    idempotency_key: str | None = None,
    tombstone_pure_deletes: bool = False,
    base_version: int | None = None,
    read_buckets: set[int] | None = None,
) -> int:
    """MERGE the changeset in ONE atomic commit.

    ``read_buckets`` (optional) is the set of buckets the CALLER's
    classification read at ``base_version`` — passed through to rebase
    eligibility so a concurrent winner that changed a read-but-unwritten
    bucket re-raises the conflict (serializable classification) instead
    of rebasing past it. ``merge_into`` passes every source-key-routed
    bucket here.

    Touched buckets come from hashing the changeset keys (manifest
    pruning: untouched buckets' dirs are carried over BY REFERENCE and
    never read or rewritten); the merged rows land in a fresh commit
    dir; the manifest link publishes every touched bucket at once.
    Returns the committed version. Raises ``VersionConflictError`` if
    another writer committed first — replay after a crash is always
    safe because a crashed commit published nothing.

    ``idempotency_key`` (``f"{checkpoint}:{epoch_id}"`` from a
    streaming foreachBatch) makes a replayed micro-batch a no-op
    instead of version churn (Delta's txn-app-id pattern): each
    manifest carries forward the ``TXN_KEEP`` most recent keys, so the
    check reads ONLY the current manifest — O(1) per merge, and the
    replay window (a stream replays at most the epochs since its last
    checkpoint commit) stays comfortably inside the carried map.

    ``tombstone_pure_deletes=True`` prices deletes like ``delete_keys``
    WITHOUT giving up single-commit atomicity: a touched bucket whose
    changeset rows are ALL 'D' is tombstoned (O(keys) — its dir, stats
    and bloom carry over by reference) instead of rewritten, while
    buckets with any upsert rewrite as usual (folding their own
    tombstone debt). Both shapes publish in ONE manifest link, so
    readers see the whole changeset or none of it. This is the right
    mode for CDC replication sinks, where retention deletes routinely
    arrive in buckets no upsert touches; default False keeps the
    rewrite-everything behavior (deletes repaid eagerly). Debt is
    bounded: a bucket already at ``_TOMBSTONE_MAX_REFS`` tombstone refs
    is forced through the rewrite path (folding all of them), so a
    delete-heavy feed pays one bucket rewrite every cap-th batch —
    amortized O(1), the LSM-compaction trigger shape — and pure deletes
    against data-less buckets commit nothing at all.

    ``base_version`` pins the OCC base the changeset was COMPUTED
    against (``merge_into`` classifies matched/unmatched at a specific
    snapshot): a writer that landed between that read and this commit
    then surfaces as a version conflict — rebased when disjoint,
    re-raised when it touched the classified buckets — instead of the
    merge silently basing on a manifest newer than its own
    classification. Default None keeps the read-current behavior for
    self-contained changesets (their content doesn't depend on a
    snapshot)."""
    base_v = current_version(path) if base_version is None else base_version
    doc = _read_manifest(path, base_v)
    txns = doc.get("txns", [])
    if idempotency_key is not None and idempotency_key in txns:
        return base_v
    key_cols, n_buckets = doc["key_cols"], doc["n_buckets"]
    schema = _table_schema(doc)
    # a changeset without the op column is a plain upsert feed — the
    # common ergonomic case (Delta's MERGE-with-update-and-insert);
    # requiring callers to synthesize __op='U' themselves only produced
    # an opaque unresolved-column AnalysisException deep in the merge
    if op_col not in changes.columns:
        changes = changes.withColumn(op_col, F.lit("U"))
    # unknown changeset columns are an error, not a silent drop: the
    # null-backfill below is for columns the table HAS that the
    # changeset lacks (pre-evolution feeds), and quietly discarding a
    # typo'd column would overwrite its real values with NULL
    unknown = set(changes.columns) - {f.name for f in schema.fields} - {
        op_col
    }
    if unknown:
        raise ValueError(
            f"changeset columns {sorted(unknown)} are not in the table "
            f"schema; add_column first or fix the changeset"
        )
    # cast schema columns to their DECLARED types before hashing:
    # xxhash64 is type-sensitive (int 7 and bigint 7 hash differently),
    # so an off-type changeset key would route to the wrong bucket and
    # silently duplicate the key across buckets
    schema_types = {f.name: f.dataType for f in schema.fields}
    changes = changes.select(
        *[
            F.col(c).cast(schema_types[c]).alias(c)
            if c in schema_types
            else F.col(c)
            for c in changes.columns
        ]
    )
    # the changeset feeds up to three actions (flags collect, rewrite
    # write, tombstone write): pin it so the upstream lineage — often a
    # foreachBatch compaction — computes once
    bucketed_changes = _bucketed(changes, key_cols, n_buckets).persist()
    # one collect resolves both the touched-bucket list and (for the
    # tombstone mode) which of them carry any upsert
    flags = (
        bucketed_changes.groupBy(BUCKET_COL)
        .agg(
            F.max((F.col(op_col) != "D").cast("int")).alias("has_upsert")
        )
        .collect()
    )
    touched = sorted(r[BUCKET_COL] for r in flags)
    if not touched:
        bucketed_changes.unpersist()
        return base_v
    pure_delete: set = set()
    if tombstone_pure_deletes:
        old_tombs = doc.get("tombstones", {})
        # a pure delete against a data-less bucket is a provable no-op:
        # route it NOWHERE (neither tombstone nor rewrite); a bucket
        # already carrying _TOMBSTONE_MAX_REFS tombstone refs is forced
        # into the rewrite path instead, folding its whole debt — the
        # cap is what keeps a delete-heavy CDC feed's manifest lists and
        # per-read anti-join fan-in bounded without manual OPTIMIZE
        no_op = {
            r[BUCKET_COL]
            for r in flags
            if r["has_upsert"] == 0
            and str(r[BUCKET_COL]) not in doc["buckets"]
        }
        pure_delete = {
            r[BUCKET_COL]
            for r in flags
            if r["has_upsert"] == 0
            and str(r[BUCKET_COL]) in doc["buckets"]
            and len(old_tombs.get(str(r[BUCKET_COL]), []))
            < _TOMBSTONE_MAX_REFS
        }
        touched = [b for b in touched if b not in no_op]
        if not touched:
            bucketed_changes.unpersist()
            return base_v
    rewrite = [b for b in touched if b not in pure_delete]
    if rewrite:
        base = _read_buckets(spark, path, doc, [str(b) for b in rewrite])
        # null-backfill columns the changeset doesn't carry (a changeset
        # written before an add_column stays valid), keeping the op marker
        flat = bucketed_changes
        if pure_delete:
            flat = flat.where(
                ~F.col(BUCKET_COL).isin([int(b) for b in pure_delete])
            )
        flat = flat.drop(BUCKET_COL)
        have = set(flat.columns)
        missing = [f.name for f in schema.fields if f.name not in have]
        proj = flat.select(
            *[
                F.col(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ],
            F.col(op_col),
        )
        if missing:
            # Delta-MERGE column semantics for pre-evolution feeds: a
            # column ABSENT from the changeset is preserved from the
            # base row on update, not null-overwritten (ADVICE r7 —
            # whole-row replace silently lost materialized values for
            # keys updated by a feed older than an add_column). One
            # key-join against the already-loaded rewrite buckets, only
            # on this rare path; inserts/new keys still backfill null.
            base_vals = base.select(
                *key_cols,
                *[F.col(c).alias(f"__base_{c}") for c in missing],
            )
            proj = (
                proj.join(base_vals, key_cols, "left")
                .select(
                    *[
                        F.col(f"__base_{f.name}").alias(f.name)
                        if f.name in missing
                        else F.col(f.name)
                        for f in schema.fields
                    ],
                    F.col(op_col),
                )
            )
        merged = apply_changeset(base, proj, key_cols, op_col=op_col)
        # CHECK constraints guard the POST-MERGE relation (riding the
        # rewrite job itself — raise executor-side before any manifest
        # links): updates are tested at their true post-merge values
        # (a narrow pre-evolution changeset backfills missing columns
        # from the BASE, not NULL), inserts at theirs, and deletes are
        # exempt by construction (apply_changeset drops them). Carried
        # rows re-check for free — they passed at their own write or
        # at add_constraint's validation scan.
        merged = _constraint_guard(doc, merged)
        rel, present, stats, file_stats = _write_commit_data(
            merged, path, key_cols, n_buckets, mapping=_col_mapping(doc)
        )
    else:
        rel, present, stats, file_stats = None, [], {}, {}
    tomb_rel = None
    if pure_delete:
        tomb_rel = f"data/commit-{uuid.uuid4().hex}"
        (
            bucketed_changes.where(
                F.col(BUCKET_COL).isin([int(b) for b in pure_delete])
            )
            .select(*key_cols, BUCKET_COL)
            .distinct()
            .write.partitionBy(BUCKET_COL)
            .parquet(os.path.join(path, tomb_rel))
        )
    bucketed_changes.unpersist()  # last action on the changeset is done
    new_buckets = dict(doc["buckets"])
    new_stats = dict(doc.get("stats", {}))
    new_fstats = dict(doc.get("file_stats", {}))
    bloom = _bloom_conf(doc)
    new_blooms = dict(bloom["buckets"]) if bloom else {}
    if bloom and present:
        fresh_blooms = _commit_blooms(
            spark, os.path.join(path, rel), bloom["cols"],
            bloom["m"], bloom["k"],
        )
    else:
        fresh_blooms = {}
    for b in rewrite:
        new_buckets.pop(str(b), None)  # fully-deleted buckets vanish
        new_stats.pop(str(b), None)
        new_fstats.pop(str(b), None)
        new_blooms.pop(str(b), None)
    for b in present:
        new_buckets[str(b)] = f"{rel}/{BUCKET_COL}={b}"
        if str(b) in stats:
            new_stats[str(b)] = stats[str(b)]
        if str(b) in file_stats:
            new_fstats[str(b)] = file_stats[str(b)]
        if str(b) in fresh_blooms:
            new_blooms[str(b)] = fresh_blooms[str(b)]
    new_doc = {
        "version": base_v + 1,
        "n_buckets": n_buckets,
        "key_cols": key_cols,
        "schema": doc["schema"],
        "buckets": new_buckets,
        "stats": new_stats,
        "file_stats": new_fstats,
    }
    if bloom:
        new_doc["bloom"] = {**bloom, "buckets": new_blooms}
    # REWRITTEN buckets read effectively (tombstones anti-joined in
    # _read_buckets), so their fresh dirs materialize the deletes and
    # their debt is repaid; pure-delete buckets keep theirs and gain
    # this commit's tombstone ref — one manifest publishes both shapes
    tombs = {
        b: list(v)
        for b, v in doc.get("tombstones", {}).items()
        if int(b) not in set(rewrite)
    }
    for b in sorted(pure_delete):
        tombs.setdefault(str(b), []).append(
            f"{tomb_rel}/{BUCKET_COL}={b}"
        )
    if tombs:
        new_doc["tombstones"] = tombs
    if idempotency_key is not None:
        new_doc["txns"] = (txns + [idempotency_key])[-TXN_KEEP:]
    elif txns:
        new_doc["txns"] = txns
    _carry_evolution(new_doc, doc)
    return _commit_with_rebase(
        path,
        base_v,
        doc,
        new_doc,
        {str(b) for b in touched},
        idempotency_key,
        read_buckets=(
            {str(b) for b in read_buckets}
            if read_buckets is not None
            else None
        ),
    )


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    when_matched_update: dict[str, str] | str | None = None,
    when_matched_update_condition: str | None = None,
    when_matched_delete_condition: str | None = None,
    when_not_matched_insert: dict[str, str] | str | None = "all",
    when_not_matched_insert_condition: str | None = None,
    when_not_matched_by_source_update: dict[str, str] | None = None,
    when_not_matched_by_source_update_condition: str | None = None,
    when_not_matched_by_source_delete_condition: str | None = None,
    idempotency_key: str | None = None,
    tombstone_pure_deletes: bool = False,
) -> int:
    """Conditional MERGE (Delta's ``MERGE INTO`` in this format's
    vocabulary): classify each source row as matched/not-matched
    against the CURRENT snapshot, apply the clause expressions, and
    land the result as ONE atomic ``merge_table`` changeset.

    ``when_not_matched_by_source_*`` (Delta 2.4's third clause family)
    acts on TARGET rows no source key matches — the sync-job surface
    (retire rows absent from today's extract, flag rows a feed stopped
    covering). Expressions and conditions reference ``t.`` only (there
    is no source row, Delta's own restriction); the update takes a
    ``{col: sql_expr}`` dict (never ``"all"``); DELETE evaluates
    before UPDATE (the fixed clause order, as for matched). COST
    CLASS: discovering ABSENCE requires reading every table key, so
    any BY SOURCE clause turns the classification into one full
    snapshot anti-join and the commit's read set into EVERY bucket
    (still serializable; still one atomic commit; the WRITE stays
    churn-priced — only rows a clause actually touches enter the
    changeset). ``sync_table`` remains the whole-table replace
    spelling; this is the conditional form.

    The ON condition is implicitly equality on the table's KEY columns
    — deliberately: the key hash is the physical layout, so a key-ON
    merge classifies by reading ONLY the buckets the source keys route
    to (``read_table_for_keys``), a churn-sized cost at any table
    size. An arbitrary theta-ON merge cannot route and would scan the
    table; that is a join-then-overwrite pipeline, not this operator.

    Clause expressions are SQL strings over two row aliases — ``s.``
    (source) and ``t.`` (target, null-padded for not-matched rows):

    - ``when_matched_update``: ``{col: sql_expr}`` assignments, or
      ``"all"`` (every non-key column takes the source's value; source
      must then carry every table column). Gated by
      ``when_matched_update_condition`` (default: all matched rows).
    - ``when_matched_delete_condition``: matched rows satisfying it
      become deletes. Evaluated BEFORE the update clause (fixed order,
      documented — Delta instead honors clause order; with one of each
      the semantics differ only on rows both conditions accept).
    - ``when_not_matched_insert``: ``{col: sql_expr}`` or ``"all"``
      (source columns pass through, table columns the source lacks
      null-backfill), gated by its condition. ``None`` = no inserts.

    Matched rows no clause accepts carry over untouched (their bucket
    may still rewrite if other keys touch it — changeset economics,
    same as any merge). Duplicate source KEYS are refused loudly (the
    Delta ``multiple source rows matched`` error): two source rows
    updating one target row is order-dependent, and silently picking
    one would make the merge non-deterministic.

    Concurrency: classification and commit share one pinned
    ``base_version``, and the commit carries the full classification
    READ set (every bucket any source key routes to, not just the
    buckets the changeset writes). A writer landing in between
    surfaces as a version conflict — rebased only when the winners
    touched neither the written nor the read buckets (so the
    pinned-snapshot classification is provably still exact —
    serializable, strictly stronger than Delta's WriteSerializable,
    which re-validates only the write set), re-raised for the caller's
    full ``occ_retry`` re-run otherwise.

    Reference parity: the reference's pipeline has no conditional
    upsert (its VDMS sink is add-only); this is the Delta/Iceberg
    MERGE surface a training-data pipeline needs for label fixes and
    late-arriving corrections at 100 TB — priced as churn, never a
    table rewrite."""
    if (
        when_matched_update is None
        and when_matched_delete_condition is None
        and when_not_matched_insert is None
        and when_not_matched_by_source_update is None
        and when_not_matched_by_source_delete_condition is None
    ):
        raise ValueError("merge_into needs at least one WHEN clause")
    if when_not_matched_by_source_update == "all":
        raise ValueError(
            "when_not_matched_by_source_update cannot be 'all': there "
            "is no source row to copy — pass {col: sql_expr} over t."
        )
    base_v = current_version(path)
    doc = _read_retained_manifest(path, base_v)
    key_cols = doc["key_cols"]
    schema = _table_schema(doc)
    table_cols = [f.name for f in schema.fields]
    non_key_cols = [c for c in table_cols if c not in key_cols]
    missing_keys = [k for k in key_cols if k not in source.columns]
    if missing_keys:
        raise ValueError(
            f"source lacks key column(s) {missing_keys}; the MERGE ON "
            "condition is equality on the table key"
        )
    if when_matched_update == "all" or when_not_matched_insert == "all":
        lacking = [
            c
            for c in (
                non_key_cols
                if when_matched_update == "all"
                else []
            )
            if c not in source.columns
        ]
        if lacking:
            raise ValueError(
                f"when_matched_update='all' needs every table column "
                f"in the source; missing {lacking}"
            )
    for clause_name, clause in (
        ("when_matched_update", when_matched_update),
        ("when_not_matched_insert", when_not_matched_insert),
        (
            "when_not_matched_by_source_update",
            when_not_matched_by_source_update,
        ),
    ):
        if isinstance(clause, dict):
            bad = sorted(set(clause) - set(table_cols))
            overwrote_key = sorted(set(clause) & set(key_cols))
            if bad:
                raise ValueError(
                    f"{clause_name} assigns unknown column(s) {bad}"
                )
            if overwrote_key:
                raise ValueError(
                    f"{clause_name} may not assign key column(s) "
                    f"{overwrote_key}: the key IS the row identity "
                    "(and its bucket routing) — delete+insert instead"
                )

    # one bounded job on the churn-sized source: duplicate keys would
    # make the merge order-dependent — refuse, never pick silently
    dup = (
        source.groupBy(*key_cols)
        .count()
        .where(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "multiple source rows share a key: a MERGE applying two "
            "changes to one target row is non-deterministic. "
            "Pre-aggregate the source to one row per key."
        )

    target = read_table_for_keys(
        spark, path, source.select(*key_cols), version=base_v
    )
    # The classification READ set: every bucket any source key routes
    # to (same cast-then-hash routing the reader used). Passed to the
    # commit so rebase eligibility re-validates the pinned-snapshot
    # classification against concurrent winners — a winner touching a
    # classified-but-unwritten bucket re-raises instead of rebasing
    # (closes the WriteSerializable-style write-skew window).
    types = {f.name: f.dataType for f in schema.fields}
    read_buckets = {
        r[BUCKET_COL]
        for r in _bucketed(
            source.select(
                *[F.col(k).cast(types[k]).alias(k) for k in key_cols]
            ),
            key_cols,
            doc["n_buckets"],
        )
        .select(BUCKET_COL)
        .distinct()  # bucket-level only: a key-level distinct first
        .collect()   # would be a full extra exchange for nothing
    }
    # Matched-detection uses an explicit join-hit marker, NOT key
    # nullness: with eqNullSafe a target row whose first key column is
    # NULL can match, and testing t.<key0> IS NOT NULL would
    # misclassify it as not-matched (insert instead of update/delete).
    s = source.alias("s")
    t = target.withColumn(_HIT_COL, F.lit(True)).alias("t")
    on = None
    for k in key_cols:
        p = F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}"))
        on = p if on is None else (on & p)
    j = s.join(t, on, "left")
    matched = F.col(f"t.{_HIT_COL}").isNotNull()

    def _value(col: str, clause, default: F.Column) -> F.Column:
        if clause == "all":
            return F.col(f"s.{col}") if col in source.columns else default
        if isinstance(clause, dict) and col in clause:
            return F.expr(clause[col])
        return default

    branches = []
    if when_matched_delete_condition is not None:
        branches.append(
            j.where(matched & F.expr(when_matched_delete_condition)).select(
                *[F.col(f"s.{k}").alias(k) for k in key_cols],
                *[F.col(f"t.{c}").alias(c) for c in non_key_cols],
                F.lit("D").alias(OP_COL),
            )
        )
    if when_matched_update is not None:
        upd = matched
        if when_matched_delete_condition is not None:
            upd = upd & ~F.expr(when_matched_delete_condition)
        if when_matched_update_condition is not None:
            upd = upd & F.expr(when_matched_update_condition)
        branches.append(
            j.where(upd).select(
                *[F.col(f"s.{k}").alias(k) for k in key_cols],
                *[
                    _value(c, when_matched_update, F.col(f"t.{c}")).alias(c)
                    for c in non_key_cols
                ],
                F.lit("U").alias(OP_COL),
            )
        )
    if when_not_matched_insert is not None:
        ins = ~matched
        if when_not_matched_insert_condition is not None:
            ins = ins & F.expr(when_not_matched_insert_condition)
        branches.append(
            j.where(ins).select(
                *[F.col(f"s.{k}").alias(k) for k in key_cols],
                *[
                    _value(
                        c,
                        when_not_matched_insert,
                        F.lit(None).cast(
                            {f.name: f.dataType for f in schema.fields}[c]
                        ),
                    ).alias(c)
                    for c in non_key_cols
                ],
                F.lit("I").alias(OP_COL),
            )
        )
    by_source = (
        when_not_matched_by_source_update is not None
        or when_not_matched_by_source_delete_condition is not None
    )
    if by_source:
        # Absence discovery is table-priced by nature: one full
        # snapshot anti-join against the churn-sized source key set.
        # No forced broadcast: Catalyst/AQE picks BHJ when the key set
        # fits the threshold and falls back to a shuffled anti-join
        # when a bulk load's keys would OOM the driver. The commit's
        # read set widens to EVERY bucket — the classification looked
        # at all of them, so a concurrent writer anywhere must
        # conflict, never be rebased past.
        snap = read_table(spark, path, version=base_v)
        skeys = source.select(
            *[F.col(k).cast(types[k]).alias(k) for k in key_cols]
        ).distinct()
        anti_on = None
        for k in key_cols:
            p = F.col(f"t.{k}").eqNullSafe(F.col(f"sk.{k}"))
            anti_on = p if anti_on is None else (anti_on & p)
        unmatched_t = snap.alias("t").join(
            skeys.alias("sk"), anti_on, "left_anti"
        )
        if when_not_matched_by_source_delete_condition is not None:
            branches.append(
                unmatched_t.where(
                    F.expr(when_not_matched_by_source_delete_condition)
                ).select(
                    *[F.col(f"t.{k}").alias(k) for k in key_cols],
                    *[F.col(f"t.{c}").alias(c) for c in non_key_cols],
                    F.lit("D").alias(OP_COL),
                )
            )
        if when_not_matched_by_source_update is not None:
            upd_bs = F.lit(True)
            if when_not_matched_by_source_delete_condition is not None:
                upd_bs = ~F.expr(
                    when_not_matched_by_source_delete_condition
                )
            if when_not_matched_by_source_update_condition is not None:
                upd_bs = upd_bs & F.expr(
                    when_not_matched_by_source_update_condition
                )
            clause_bs = when_not_matched_by_source_update
            branches.append(
                unmatched_t.where(upd_bs).select(
                    *[F.col(f"t.{k}").alias(k) for k in key_cols],
                    *[
                        (
                            F.expr(clause_bs[c])
                            if c in clause_bs
                            else F.col(f"t.{c}")
                        ).alias(c)
                        for c in non_key_cols
                    ],
                    F.lit("U").alias(OP_COL),
                )
            )
        read_buckets = set(range(doc["n_buckets"]))
    changes = branches[0]
    for b in branches[1:]:
        changes = changes.unionByName(b)
    return merge_table(
        spark,
        path,
        changes,
        idempotency_key=idempotency_key,
        tombstone_pure_deletes=tombstone_pure_deletes,
        base_version=base_v,
        read_buckets=read_buckets,
    )


def describe_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one row per retained version, with the
    operation CLASS inferred from manifest shape — no write-path
    metadata needed, so it works on any table this format ever wrote
    (and stays honest: it reports what a commit DID, not what its
    caller claimed). Classes:

    - ``create`` (version 1 with no provenance), ``clone`` (v1 with
      ``cloned_from``), ``restore`` (``restored_from``),
    - ``optimize`` / ``rebucket`` (``layout_only``, split on
      ``n_buckets`` changing),
    - ``delete`` (no bucket repointed; tombstone lists grew),
    - ``merge`` (anything that repointed buckets / changed rows),
    - ``schema`` (columns changed, nothing else did).

    Each row carries (version, op, n_buckets, n_data_buckets,
    n_tombstone_refs, and any provenance fields). Cost: one manifest
    read per retained version — metadata only."""
    out: list[dict] = []
    prev: dict | None = None
    for v in history(path):
        doc = _read_manifest(path, v)
        n_tombs = sum(len(r) for r in doc.get("tombstones", {}).values())
        row = {
            "version": v,
            "n_buckets": doc.get("n_buckets"),
            "n_data_buckets": len(doc.get("buckets", {})),
            "n_tombstone_refs": n_tombs,
            "committed_at": doc.get("committed_at"),
        }
        if doc.get("cloned_from") is not None and v == 1:
            row["op"] = "clone"
            row["cloned_from"] = doc["cloned_from"]
            row["cloned_version"] = doc.get("cloned_version")
        elif doc.get("restored_from") is not None:
            row["op"] = "restore"
            row["restored_from"] = doc["restored_from"]
        elif prev is None:
            # after vacuum the oldest retained version may not be v1 —
            # with no predecessor manifest its class is unknowable
            row["op"] = "create" if v == 1 else "retention-base"
        elif doc.get("layout_only"):
            row["op"] = (
                "rebucket"
                if doc.get("n_buckets") != prev.get("n_buckets")
                else "optimize"
            )
        elif doc.get("buckets") == prev.get("buckets") and doc.get(
            "tombstones", {}
        ) != prev.get("tombstones", {}):
            row["op"] = "delete"
        elif doc.get("schema") != prev.get("schema") and doc.get(
            "buckets"
        ) == prev.get("buckets"):
            row["op"] = "schema"
        else:
            row["op"] = "merge"
        out.append(row)
        prev = doc
    return out


def sync_table(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    idempotency_key: str | None = None,
    max_delete_fraction: float = 0.5,
) -> int:
    """Make the table's content EXACTLY ``source`` in one atomic
    commit — the CDC snapshot-sync (Delta's ``MERGE ... WHEN NOT
    MATCHED BY SOURCE THEN DELETE``, as its own operator because its
    cost class differs from ``merge_into``: discovering ABSENCE
    requires looking at every table key, so the classification is one
    full key+fingerprint scan, never bucket-routed).

    The COMMIT is still churn-priced: both sides are fingerprinted
    (md5 over the full row in declared column order) and the changeset
    carries only rows that genuinely differ — new/changed keys as
    upserts, table keys the source lacks as deletes
    (``tombstone_pure_deletes``, so delete-only buckets tombstone
    instead of rewriting). A sync that finds NOTHING different commits
    NOTHING (no version churn) — repeated syncs of an unchanged mirror
    are free, and the change feed after a sync shows only real
    changes, never carried-over rows.

    ``max_delete_fraction`` is the partial-extract guard: a truncated
    source fed to an unguarded sync would happily delete most of the
    table (the classic mirror-job catastrophe). If the delete side
    exceeds this fraction of the table's keys the sync refuses loudly;
    raise it explicitly for intentional mass deletes. Duplicate source
    keys are refused for the same reason as ``merge_into``."""
    base_v = current_version(path)
    doc = _read_retained_manifest(path, base_v)
    key_cols = doc["key_cols"]
    schema = _table_schema(doc)
    table_cols = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    missing = [c for c in table_cols if c not in source.columns]
    if missing:
        raise ValueError(
            f"sync_table source lacks table column(s) {missing}: a "
            "sync REPLACES content, so a narrower source would "
            "null-overwrite those columns everywhere. Project the "
            "table's full schema (or use merge_into for partial "
            "updates)."
        )
    src = source.select(
        *[F.col(c).cast(types[c]).alias(c) for c in table_cols]
    )
    dup = (
        src.groupBy(*key_cols).count().where(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(
            "multiple source rows share a key: the synced state would "
            "be non-deterministic. Pre-aggregate the source."
        )
    fp = F.md5(
        F.to_json(F.struct(*[F.col(c) for c in table_cols]))
    )
    cur = read_table(spark, path, version=base_v).select(
        *table_cols
    ).withColumn("__fp", fp)
    want = src.withColumn("__fp", fp)
    # Join-hit marker instead of key nullness: a null-keyed target row
    # matches under eqNullSafe, and t.<key0> IS NULL would re-classify
    # it as new on EVERY sync, breaking the unchanged-mirror-commits-
    # nothing guarantee for such rows.
    j = want.alias("s").join(
        cur.select(*key_cols, "__fp")
        .withColumn(_HIT_COL, F.lit(True))
        .alias("t"),
        [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in key_cols],
        "left",
    )
    upserts = j.where(
        F.col(f"t.{_HIT_COL}").isNull()
        | (F.col("s.__fp") != F.col("t.__fp"))
    ).select(
        *[F.col(f"s.{c}").alias(c) for c in table_cols],
        F.lit("U").alias(OP_COL),
    )
    dels = (
        cur.alias("t")
        .join(
            want.select(*key_cols).alias("s"),
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols],
            "left_anti",
        )
        .select(
            *[F.col(c) for c in table_cols],
            F.lit("D").alias(OP_COL),
        )
    )
    # one bounded pass prices the guard AND detects the no-op (both
    # counts ride a single aggregate over the pinned changeset)
    changes = upserts.unionByName(dels).persist()
    try:
        counts = changes.groupBy(OP_COL).count().collect()
        n_up = sum(r["count"] for r in counts if r[OP_COL] == "U")
        n_del = sum(r["count"] for r in counts if r[OP_COL] == "D")
        if n_up == 0 and n_del == 0:
            return base_v  # mirror already exact: no version churn
        if n_del:
            n_table = cur.count()
            if n_del > max_delete_fraction * n_table:
                raise ValueError(
                    f"sync_table would delete {n_del:,} of {n_table:,} "
                    f"keys (> max_delete_fraction={max_delete_fraction})"
                    " — a truncated/partial source is the usual cause. "
                    "Pass a higher max_delete_fraction to delete "
                    "intentionally."
                )
        # A sync's classification reads the WHOLE table (the delete
        # half diffs every bucket against the source), so its read set
        # is every bucket: any concurrent winner invalidates the
        # mirror diff and must re-raise — a rebase past even a
        # disjoint winner would leave the winner's rows un-mirrored.
        return merge_table(
            spark,
            path,
            changes,
            idempotency_key=idempotency_key,
            tombstone_pure_deletes=True,
            base_version=base_v,
            read_buckets=set(range(doc["n_buckets"])),
        )
    finally:
        changes.unpersist()


def restore_table(path: str, version: int) -> int:
    """RESTORE (Delta's ``RESTORE TABLE ... TO VERSION``): commit a NEW
    version whose content is the chosen retained snapshot — time travel
    made actionable. Metadata-only: the new manifest copies the target
    manifest's refs (dirs are immutable, so repointing IS restoring);
    no data moves, the bad commits stay in history for audit, and the
    change feed across the restore shows exactly the rows that came
    back / went away (it diffs contents, not intentions).

    Restoring to a VACUUMED version raises the named
    :class:`VersionVacuumedError` (its files may already be gone —
    silently committing a manifest full of holes would be data loss
    deferred to read time). The current ``txns`` idempotency keys are
    carried FORWARD (not the target's): streaming writers' replay
    guards witness the log's recent history, which the restore extends
    rather than rewrites."""
    cur_v = current_version(path)
    if version == cur_v:
        return cur_v  # restoring to the present is a no-op, not churn
    doc = _read_retained_manifest(path, version)
    cur = _read_retained_manifest(path, cur_v)
    new_doc = dict(doc)
    new_doc["version"] = cur_v + 1
    new_doc.pop("layout_only", None)
    # restore/clone provenance describes ONE commit; carrying it
    # forward would misattribute every later commit in DESCRIBE
    # HISTORY
    new_doc.pop("restored_from", None)
    if cur.get("txns"):
        new_doc["txns"] = cur["txns"]
    else:
        new_doc.pop("txns", None)
    new_doc["restored_from"] = version
    _commit_manifest(path, cur_v + 1, new_doc)
    return cur_v + 1


def version_at_timestamp(path: str, ts: float) -> int:
    """Resolve ``TIMESTAMP AS OF``: the LATEST retained version whose
    ``committed_at`` is ≤ ``ts`` (Delta's rule). Metadata-only — one
    manifest read per retained version.

    Loud edges: a timestamp before the oldest retained commit raises
    (there is no state to serve — the honest answer after vacuum too);
    a retained manifest WITHOUT a stamp (written before this feature)
    raises by name rather than guessing its age. Wall-clock skew
    between writers can make stamps locally non-monotonic; taking the
    max qualifying VERSION (not the max timestamp) keeps resolution
    deterministic and supremum-correct under skew."""
    return manifest.version_at_timestamp(
        path,
        history(path),
        lambda v: _read_manifest(path, v),
        ts,
        "TIMESTAMP AS OF cannot resolve against it — use VERSION AS OF",
    )


def clone_table(
    src_path: str,
    dst_path: str,
    version: int | None = None,
) -> int:
    """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``): the
    destination's version 1 is a metadata-only copy of the source's
    chosen manifest with every data ref — bucket dirs and tombstone
    refs — rewritten ABSOLUTE into the source's layout. Zero bytes of
    data move, so cloning a 100 TB table is one manifest write: the
    zero-copy experimentation branch (try a risky backfill, benchmark
    a migration, hand a team a frozen snapshot) that would otherwise
    cost a full copy.

    Copy-on-write from then on: any merge/delete/OPTIMIZE on the clone
    writes its rewritten buckets under the CLONE's own ``data/`` and
    repoints just those entries; untouched buckets keep referencing
    the source (``_abs_ref`` resolves both shapes everywhere).
    Mutating the SOURCE after the clone cannot affect it — source
    commits mint fresh dirs and the clone's refs pin the old immutable
    ones.

    The one shared-fate hazard is Delta's documented shallow-clone
    caveat, inherited deliberately: ``vacuum`` on the SOURCE does not
    know about foreign manifests, so it may delete dirs the clone
    still references — clone reads then fail loudly with the missing
    path (never silently partial: the scan lists exact dirs). Keep the
    source's retention ≥ the clone's lifetime, or OPTIMIZE the clone
    (one linear rewrite localizes every ref) to cut the dependency.
    ``vacuum`` on the CLONE is always safe for the source: it sweeps
    only dirs under the clone's own ``data/``, and absolute refs never
    match them.

    The source's ``txns`` idempotency keys are dropped: they witness
    commits against the SOURCE's history, and carrying them would make
    a consumer's first replayed batch against the clone silently no-op.
    Provenance (``cloned_from``/``cloned_version``) is recorded in the
    manifest for lineage audits."""
    v = current_version(src_path) if version is None else version
    doc = _read_retained_manifest(src_path, v)
    new_doc = dict(doc)
    new_doc["version"] = 1
    new_doc["buckets"] = {
        b: _abs_ref(src_path, rel) for b, rel in doc["buckets"].items()
    }
    if doc.get("tombstones"):
        new_doc["tombstones"] = {
            b: [_abs_ref(src_path, r) for r in refs]
            for b, refs in doc["tombstones"].items()
        }
    new_doc.pop("txns", None)
    new_doc.pop("layout_only", None)
    # restore/clone provenance describes ONE commit; carrying it
    # forward would misattribute every later commit in DESCRIBE
    # HISTORY
    new_doc.pop("restored_from", None)
    # force a fresh committed_at: a VERSION-1 source's _ts_v sentinel
    # equals the clone's own version 1, so without the pop the clone
    # would inherit the source's commit time and TIMESTAMP AS OF /
    # startingTimestamp would claim the clone predates its creation
    new_doc.pop("_ts_v", None)
    new_doc.pop("committed_at", None)
    new_doc["cloned_from"] = src_path
    new_doc["cloned_version"] = v
    os.makedirs(os.path.join(dst_path, "data"), exist_ok=True)
    os.makedirs(_manifest_dir(dst_path), exist_ok=True)
    _commit_manifest(dst_path, 1, new_doc)
    return 1


def delete_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    idempotency_key: str | None = None,
    base_version: int | None = None,
    read_buckets: set[int] | None = None,
) -> int:
    """MERGE-ON-READ delete: commit a TOMBSTONE file of keys instead of
    rewriting the touched buckets — Delta's deletion-vector / Iceberg's
    delete-file idea in this format's manifest vocabulary.

    ``merge_table`` prices a 1-row delete at a whole-bucket rewrite; at
    100 TB that makes retention/GDPR deletes the most expensive commits
    on the table. A tombstone commit costs O(keys): the key rows are
    bucket-routed and written under a fresh commit dir, and the
    manifest's per-bucket ``tombstones`` lists grow by one ref each —
    data dirs, stats and blooms all carry over untouched. Every reader
    anti-joins the tombstones back out (``_minus_tombstones``), so
    reads, time travel, point lookups, pruned reads, the change feed
    and replication all see the post-delete rows; stats/blooms go
    conservative (they may still claim a dead row) but never wrong.

    The debt is repaid on the next rewrite of each bucket: a MERGE
    folds the touched buckets' tombstones into the rewrite and clears
    them; OPTIMIZE / rebucket fold the whole table's (their snapshots
    read effectively, and layout_only stays honest — effective rows are
    identical before and after the fold). Deleting a key the table
    never held is a no-op, like MERGE's D of an absent key. OCC, crash
    safety and ``idempotency_key`` replay behave exactly as in
    ``merge_table`` (nothing is visible before the manifest link).

    ``base_version``/``read_buckets`` mirror ``merge_table``'s OCC
    contract for CLASSIFYING callers (a ``DELETE … WHERE`` resolves its
    keys by scanning a snapshot): pin the snapshot the keys were
    classified against, and gate rebase eligibility on the buckets
    that classification READ — a winner landing in between then
    re-raises instead of the delete silently tombstoning
    stale-classified keys."""
    base_v = current_version(path) if base_version is None else base_version
    doc = _read_manifest(path, base_v)
    txns = doc.get("txns", [])
    if idempotency_key is not None and idempotency_key in txns:
        return base_v
    key_cols, n_buckets = doc["key_cols"], doc["n_buckets"]
    types = {f.name: f.dataType for f in _table_schema(doc).fields}
    keys = keys.select(
        *[F.col(k).cast(types[k]).alias(k) for k in key_cols]
    ).distinct()
    rel = f"data/commit-{uuid.uuid4().hex}"
    full = os.path.join(path, rel)
    # cluster the keys by bucket before the write: inheriting the
    # changeset's partitioning writes up to (tasks × buckets) files of a
    # few KB each (measured 224 files for 21k keys at 8 buckets), and
    # every future read of the table pays that per-file open/footer cost
    # in its tombstone anti-join build — the small-files tax, twice
    # (guide §6). One shuffle of O(keys) rows here buys one file per
    # bucket dir forever after; keys are key-column-only rows, so even a
    # bulk delete's per-bucket file stays modest.
    _bucketed(keys, key_cols, n_buckets).repartition(
        n_buckets, F.col(BUCKET_COL)
    ).write.partitionBy(BUCKET_COL).parquet(full)
    touched = [
        d.removeprefix(f"{BUCKET_COL}=")
        for d in os.listdir(full)
        if d.startswith(f"{BUCKET_COL}=")
    ]
    # keys routed to buckets with no data cannot delete anything
    touched = [b for b in touched if b in doc["buckets"]]
    if not touched:  # nothing to delete: no version churn (merge_table's
        # empty-changeset contract), no spurious OCC conflict for a
        # racing real writer; the just-written commit dir is garbage
        import shutil

        shutil.rmtree(full, ignore_errors=True)
        return base_v
    new_tombs = {b: list(v) for b, v in doc.get("tombstones", {}).items()}
    for b in touched:
        new_tombs.setdefault(b, []).append(f"{rel}/{BUCKET_COL}={b}")
    new_doc = dict(doc)
    new_doc["version"] = base_v + 1
    new_doc["tombstones"] = new_tombs
    # rows changed: a stale flag from a preceding OPTIMIZE must not
    # hide this commit from the change feed
    new_doc.pop("layout_only", None)
    # restore/clone provenance describes ONE commit; carrying it
    # forward would misattribute every later commit in DESCRIBE
    # HISTORY
    new_doc.pop("restored_from", None)
    if idempotency_key is not None:
        new_doc["txns"] = (txns + [idempotency_key])[-TXN_KEEP:]
    return _commit_with_rebase(
        path,
        base_v,
        doc,
        new_doc,
        set(touched),
        idempotency_key,
        read_buckets=(
            {str(b) for b in read_buckets}
            if read_buckets is not None
            else None
        ),
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    sort_by: str | None = None,
    files_per_bucket: int = 4,
    zorder_by: tuple[str, str] | None = None,
    zorder_bits: int = 10,
) -> int:
    """OPTIMIZE: rewrite every bucket with rows clustered for zone-map
    selectivity — either value-SORTED on one column (``sort_by``: each
    bucket's files cover tight, near-disjoint ranges of that column) or
    Z-ORDERED on two (``zorder_by=(a, b)``: files tile the Morton curve
    of the two range-normalized columns, so EACH file gets a tight
    bounding box in BOTH dimensions — ~√(1/n_files) of each range —
    and ``read_table_where`` prunes on either column; Delta's OPTIMIZE
    ZORDER BY). Exactly one of ``sort_by`` / ``zorder_by`` is required.

    Z-order prep: both columns are linearly binned into ``zorder_bits``
    bits using their global min/max from ONE one-row aggregate
    broadcast into the rewrite plan (no window, no per-row rank — the
    rewrite is the only table-sized work, same as the sort path). The
    z-value itself is pure codegen (``operators/layout.zorder_value``:
    shifts/masks) and is dropped before the write.

    Logically a no-op: the committed version holds exactly the same
    rows, published atomically by the same manifest protocol — readers
    of older versions are untouched, a concurrent merge loses or wins
    the version race cleanly (OCC), and the change feed shows NOTHING
    for this commit (``table_changes``'s row fingerprints drop
    identical rows, so layout maintenance is invisible to CDC
    consumers — the Delta OPTIMIZE contract).

    ``files_per_bucket`` bounds output files: range partitioning on
    (bucket, cluster key) makes each task's slice of a bucket a
    contiguous value/curve range."""
    if (sort_by is None) == (zorder_by is None):
        raise ValueError(
            "optimize_table needs exactly one of sort_by= or zorder_by="
        )
    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    key_cols, n_buckets = doc["key_cols"], doc["n_buckets"]
    snap = _read_buckets(spark, path, doc, list(doc["buckets"]))
    if zorder_by is not None:
        from video_streamer_spark.operators.layout import zorder_value

        ca, cb = zorder_by
        if "__z" in snap.columns:
            raise ValueError(
                "column name '__z' is reserved for the z-order rewrite"
            )
        mm = snap.agg(
            F.min(ca).alias("__amin"), F.max(ca).alias("__amax"),
            F.min(cb).alias("__bmin"), F.max(cb).alias("__bmax"),
        )
        top = (1 << zorder_bits) - 1

        def _bin(col: str, lo: str, hi: str):
            # degenerate range (constant column) → every row bin 0
            span = F.col(hi).cast("double") - F.col(lo).cast("double")
            return F.when(
                span > 0,
                F.floor(
                    (F.col(col).cast("double") - F.col(lo).cast("double"))
                    / span
                    * top
                ),
            ).otherwise(F.lit(0))

        clustered = (
            snap.crossJoin(F.broadcast(mm))
            .withColumn(
                "__z",
                zorder_value(
                    _bin(ca, "__amin", "__amax"),
                    _bin(cb, "__bmin", "__bmax"),
                    zorder_bits,
                ),
            )
            .drop("__amin", "__amax", "__bmin", "__bmax")
        )
        cluster_key = "__z"
    else:
        clustered, cluster_key = snap, sort_by
    arranged = (
        _bucketed(clustered, key_cols, n_buckets)
        .repartitionByRange(
            max(1, n_buckets * files_per_bucket),
            F.col(BUCKET_COL),
            F.col(cluster_key),
        )
        .sortWithinPartitions(BUCKET_COL, cluster_key)
    )
    if cluster_key == "__z":
        arranged = arranged.drop("__z")
    rel, present, stats, file_stats = _write_commit_data(
        arranged, path, key_cols, n_buckets, pre_bucketed=True,
        mapping=_col_mapping(doc),
    )
    new_doc = {
        "version": base_v + 1,
        "n_buckets": n_buckets,
        "key_cols": key_cols,
        "schema": doc["schema"],
        "buckets": {str(b): f"{rel}/{BUCKET_COL}={b}" for b in present},
        "stats": stats,
        "file_stats": file_stats,
        # layout maintenance moved rows between files but changed none:
        # change-feed readers skip buckets whose pointers changed only
        # via layout_only commits instead of diffing the whole table
        "layout_only": True,
    }
    bloom = _bloom_conf(doc)
    if bloom:  # same rows, rewritten dirs: rebuild the bucket blooms
        new_doc["bloom"] = {
            **bloom,
            "buckets": _commit_blooms(
                spark, os.path.join(path, rel), bloom["cols"],
                bloom["m"], bloom["k"],
            )
            if present
            else {},
        }
    if doc.get("txns"):
        new_doc["txns"] = doc["txns"]  # idempotency keys must survive
    _carry_evolution(new_doc, doc)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def rebucket_table(
    spark: SparkSession, path: str, new_n_buckets: int
) -> int:
    """Change the table's bucket count — the growth escape hatch: a
    table that outgrew its layout (each merge rewrites whole buckets,
    so oversized buckets make every commit expensive) re-hashes into
    ``new_n_buckets`` as ONE atomic layout-only commit. Rows are
    untouched, so readers of old versions are unaffected, the change
    feed shows nothing (``layout_only``), and idempotency keys carry
    forward; every subsequent merge hashes against the manifest's new
    count automatically. OCC applies as usual — a racing writer either
    commits before (we rebucket its output) or conflicts and retries
    against the new layout."""
    base_v = current_version(path)
    doc = _read_manifest(path, base_v)
    key_cols = doc["key_cols"]
    snap = _read_buckets(spark, path, doc, list(doc["buckets"]))
    rel, present, stats, file_stats = _write_commit_data(
        snap, path, key_cols, new_n_buckets, mapping=_col_mapping(doc)
    )
    new_doc = {
        "version": base_v + 1,
        "n_buckets": new_n_buckets,
        "key_cols": key_cols,
        "schema": doc["schema"],
        "buckets": {str(b): f"{rel}/{BUCKET_COL}={b}" for b in present},
        "stats": stats,
        "file_stats": file_stats,
        "layout_only": True,
    }
    bloom = _bloom_conf(doc)
    if bloom:  # key→bucket map changed: every bucket's bloom is new
        new_doc["bloom"] = {
            **bloom,
            "buckets": _commit_blooms(
                spark, os.path.join(path, rel), bloom["cols"],
                bloom["m"], bloom["k"],
            )
            if present
            else {},
        }
    if doc.get("txns"):
        new_doc["txns"] = doc["txns"]
    _carry_evolution(new_doc, doc)
    _commit_manifest(path, base_v + 1, new_doc)
    return base_v + 1


def vacuum(
    path: str,
    keep_last: int = 2,
    min_age_sec: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Delete data dirs no retained manifest references, and manifests
    older than the retention window. Readers of RETAINED versions are
    unaffected (their files survive); time travel beyond the window is
    traded for space — the same contract as Delta VACUUM. Also sweeps
    unreferenced commit dirs from crashed (never-published) commits.

    ``min_age_sec`` protects an IN-FLIGHT writer: a commit dir younger
    than the threshold may belong to a merge that has written data but
    not yet linked its manifest — deleting it would let the writer
    publish a manifest whose files are gone. Only dirs older than the
    threshold are swept (Delta VACUUM's retention-window check, scaled
    down); crashed-commit garbage is reclaimed on the next vacuum after
    it ages past the window.

    ``min_age_sec`` is ALSO the defense against listing lag: the
    double-list below heals a transient one-shot omission, but on a
    store whose listing consistency window is longer than the gap
    between two list calls, only the age gate keeps a just-committed
    version's data safe. Deployments must keep ``min_age_sec`` above
    the store's documented consistency window (Delta's VACUUM retention
    contract, same reasoning); ``min_age_sec=0`` is for tests on
    strongly-consistent local filesystems only.

    ``dry_run=True`` reports exactly what a real pass WOULD remove
    (``doomed_dirs`` / ``doomed_versions``) and touches nothing — the
    operational pre-flight for a retention change, since the one thing
    vacuum cannot know about is a foreign reader (a shallow clone's
    manifest, a long-running external job) still holding the dirs it
    is about to drop.

    **Minimum-retention contract for change-feed consumers**: a CDF
    reader addresses manifests by version — a batch
    ``table_changes(v_from, ...)`` holds ``v_from`` until it runs, and
    a streaming table_cdf checkpoint holds its last-seen offset across
    restarts. ``keep_last`` must therefore exceed the number of
    commits that can land between a consumer's two reads (for a
    stream: commits per trigger interval × the longest outage you
    intend to restart across). A consumer whose held version falls
    behind retention fails LOUDLY and by name — batch raises
    :class:`VersionVacuumedError`, the stream raises its
    start-offset-vacuumed error — never silently reading through the
    hole; the remedy is re-baselining from a snapshot (or a fresh
    checkpoint), not a retry."""
    import shutil
    import time

    versions = history(path)
    # list TWICE and union: a single stale listing (an object store's
    # consistency window omitting the newest manifest) would otherwise
    # make the current version's data dirs look unreferenced — and a
    # vacuum with a short min_age_sec would delete the live table's
    # data. One re-list heals the omit-once window; the age gate
    # covers anything pathological beyond it. (FaultyLogStore test
    # pins this: vacuum under a stale list must not eat the newest
    # commit.)
    versions = sorted(set(versions) | set(history(path)))
    keep = set(versions[-keep_last:])
    referenced: set[str] = set()
    for v in keep:
        doc = _read_manifest(path, v)
        for rel in doc["buckets"].values():
            referenced.add(rel.split(f"/{BUCKET_COL}=")[0])
        for refs in doc.get("tombstones", {}).values():
            for rel in refs:  # live tombstones must survive the sweep
                referenced.add(rel.split(f"/{BUCKET_COL}=")[0])
    data_dir = os.path.join(path, "data")
    removed = 0
    now = time.time()
    doomed_dirs: list[str] = []
    for d in os.listdir(data_dir):
        rel = f"data/{d}"
        full = os.path.join(data_dir, d)
        if rel not in referenced and (
            now - os.path.getmtime(full) >= min_age_sec
        ):
            doomed_dirs.append(rel)
            if not dry_run:
                shutil.rmtree(full)
            removed += 1
    store = log_store_for(path)
    dropped_manifests = 0
    doomed_versions = [v for v in versions if v not in keep]
    if not dry_run:
        for v in doomed_versions:
            store.delete_entry(_manifest_dir(path), manifest.entry_name(v))
            dropped_manifests += 1
        # crashed writers may strand store-private staging files (the
        # POSIX store's .tmp-*.json between link and unlink, ADVICE
        # r7); reclaim aged ones under the same in-flight-writer age
        # gate
        stray = store.sweep_stray(_manifest_dir(path), min_age_sec)
    else:
        dropped_manifests = len(doomed_versions)
        stray = 0
    return {
        "data_dirs_removed": removed,
        "manifests_removed": dropped_manifests,
        "stray_log_files_removed": stray,
        "dry_run": dry_run,
        "doomed_dirs": sorted(doomed_dirs),
        "doomed_versions": doomed_versions,
    }


def run_acid_merge_sink(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str],
    seq_col: str,
    checkpoint_dir: str,
    op_col: str = OP_COL,
    timeout_sec: int = 300,
    tombstone_pure_deletes: bool = True,
) -> None:
    """CDC apply into the versioned table: each micro-batch compacts to
    last-write-wins per key (``merge.compact_changeset``) and commits
    ONE atomic version, keyed by ``checkpoint:epoch`` so a foreachBatch
    replay is a manifest-level no-op — exactly-once table state on top
    of Structured Streaming's at-least-once epoch delivery. The table
    must exist (``create_table``) before the stream starts.

    ``seq_col`` is CONSUMED by the per-epoch compaction (it is feed
    metadata — a Kafka offset / LSN — not table data, and
    ``compact_changeset`` drops it after picking each key's winner); a
    feed whose ordering column must also be STORED should derive a
    separate sequence column (e.g. ``unix_micros(ts)``) and keep the
    data column in the row.

    ``checkpoint_dir`` is REQUIRED and is part of the idempotency key:
    epoch ids restart at 0 for every fresh checkpoint, so a key built
    from the table path alone would make a SECOND stream run's epochs
    collide with the first's and silently drop its batches (the same
    epoch-id-scoping rule as ``streaming/incremental.journal_epoch``).
    One checkpoint lineage == one key namespace.

    ``tombstone_pure_deletes`` (default True here — a CDC feed's
    retention deletes routinely land in buckets no upsert touches)
    applies each batch's pure-delete buckets as O(keys) tombstones
    inside the same atomic commit; see ``merge_table``."""
    from video_streamer_spark.operators.merge import compact_changeset
    from video_streamer_spark.streaming.drain import drain_or_raise

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        compacted = compact_changeset(batch_df, key_cols, seq_col)
        # OCC retry: a concurrent writer (another stream, a manual
        # merge, an OPTIMIZE) winning the version race is expected
        # liveness, not failure — merge_table re-reads the new current
        # on each attempt, the idempotency key still dedupes if an
        # earlier attempt actually committed before dying, and
        # occ_retry's jittered backoff keeps N sustained committers
        # from re-colliding in sync
        occ_retry(
            lambda: merge_table(
                batch_df.sparkSession,
                path,
                compacted,
                op_col=op_col,
                idempotency_key=f"{checkpoint_dir}:{epoch_id}",
                tombstone_pure_deletes=tombstone_pure_deletes,
            ),
            attempts=4,
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, timeout_sec, "run_acid_merge_sink")


def analyze_table(path: str, version: int | None = None) -> dict:
    """Metadata-only maintenance report — the layout counterpart of
    ``plans/advisor.lint_plan``. Everything comes from the manifest and
    file sizes: NO Spark session, NO data read, so at 100 TB this is a
    sub-second catalog operation a scheduler can poll before deciding
    whether an OPTIMIZE / rebucket / fold is worth a cluster.

    Findings (each a ``(code, message)`` pair, advisory like the plan
    lint):

    - ``SMALL_FILES``: a bucket averages under ~4 MiB/file — commit
      churn has fragmented it and scans pay per-file open/footer cost;
      ``optimize_table`` compacts (and tightens zone maps).
    - ``TOMBSTONE_DEBT``: a bucket's merge-on-read tombstone list is at
      or past half the fold cap — every read pays the anti-join on it;
      a merge touching the bucket (or OPTIMIZE) folds the debt.
    - ``BUCKET_SKEW``: max/median bucket bytes exceeds 4× — one task
      per read/merge does several buckets' work; ``rebucket_table`` or
      a key-choice review rebalances.
    - ``NO_FILE_STATS``: buckets still on a pre-file-stats manifest —
      range reads fall back to whole-dir scans there; any rewriting
      commit (merge/OPTIMIZE) re-profiles them.
    """
    v = current_version(path) if version is None else version
    doc = _read_retained_manifest(path, v)
    tombs = doc.get("tombstones", {})
    fstats = doc.get("file_stats", {})
    buckets: dict = {}
    for b, rel in doc["buckets"].items():
        full = _abs_ref(path, rel)
        try:
            sizes = [
                os.path.getsize(os.path.join(full, f))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            ]
        except FileNotFoundError:
            sizes = []
        buckets[b] = {
            "n_files": len(sizes),
            "bytes": sum(sizes),
            "avg_file_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
            "tombstone_refs": len(tombs.get(b, [])),
            "has_file_stats": b in fstats,
        }
    findings: list[tuple[str, str]] = []
    # >=4 sub-target files in one bucket is churn, not layout choice
    # (optimize_table itself may split a bucket across a couple of
    # range partitions; a single extra tiny file is not a finding)
    small = [
        b
        for b, info in buckets.items()
        if info["n_files"] >= 4 and info["avg_file_bytes"] < (4 << 20)
    ]
    if small:
        findings.append(
            (
                "SMALL_FILES",
                f"{len(small)} bucket(s) average <4 MiB/file "
                f"(e.g. bucket {small[0]}: "
                f"{buckets[small[0]]['n_files']} files, avg "
                f"{buckets[small[0]]['avg_file_bytes']} B); scans pay "
                "per-file open cost — optimize_table compacts.",
            )
        )
    indebted = [
        b
        for b, info in buckets.items()
        if info["tombstone_refs"] * 2 >= _TOMBSTONE_MAX_REFS
    ]
    # tombstones can also reference buckets with NO data dir (pure
    # inserts-then-deleted); count their debt too
    for b in tombs:
        if b not in buckets and len(tombs[b]) * 2 >= _TOMBSTONE_MAX_REFS:
            indebted.append(b)
    if indebted:
        findings.append(
            (
                "TOMBSTONE_DEBT",
                f"{len(indebted)} bucket(s) at >=half the fold cap "
                f"({_TOMBSTONE_MAX_REFS}); every read anti-joins the "
                "debt — a merge touching them (or OPTIMIZE) folds it.",
            )
        )
    byte_counts = sorted(
        info["bytes"] for info in buckets.values() if info["bytes"] > 0
    )
    if len(byte_counts) >= 2:
        median = byte_counts[len(byte_counts) // 2]
        if median > 0 and byte_counts[-1] > 4 * median:
            findings.append(
                (
                    "BUCKET_SKEW",
                    f"max bucket {byte_counts[-1]} B is >4x the median "
                    f"{median} B: one task does several buckets' work; "
                    "rebucket_table or revisit the key choice.",
                )
            )
    no_stats = [b for b, info in buckets.items() if not info["has_file_stats"]]
    if no_stats and fstats:  # mixed: some buckets profiled, some not
        findings.append(
            (
                "NO_FILE_STATS",
                f"{len(no_stats)} bucket(s) lack per-file zone maps "
                "(pre-file-stats manifest); range reads scan those "
                "dirs whole — any rewriting commit re-profiles.",
            )
        )
    return {
        "version": v,
        "n_buckets": doc["n_buckets"],
        "buckets": buckets,
        "findings": findings,
    }


def maintain_table(
    spark: SparkSession,
    path: str,
    rebucket_factor: int = 2,
    max_buckets: int = 4096,
    vacuum_keep_last: int | None = None,
    vacuum_min_age_sec: float = 3600.0,
) -> dict:
    """Close the advisor loop: execute exactly the maintenance
    ``analyze_table`` recommends, and NOTHING on a healthy table — the
    scheduler-facing half of the metadata-only report (round-8 VERDICT
    item 7). Semantically invisible by construction: every action is a
    layout-only commit (OPTIMIZE / rebucket) or retention (vacuum), so
    query results before and after are identical — the lifecycle model
    test interleaves it to prove exactly that.

    Actions, in dependency order:

    - ``SMALL_FILES`` / ``TOMBSTONE_DEBT`` / ``NO_FILE_STATS`` → ONE
      ``optimize_table`` value-sorted on the first key column: a single
      rewrite compacts the churn, folds every tombstone, and profiles
      per-file zone maps — running it once clears all three families.
    - ``BUCKET_SKEW`` (re-analyzed AFTER the optimize, which may have
      already rebalanced bytes) → ``rebucket_table`` to
      ``rebucket_factor ×`` the current count, capped at
      ``max_buckets``. Deliberately ONE step per call, never a loop: a
      single hot KEY stays skewed at any bucket count, and a maintainer
      that doubles forever chasing it is a runaway — persistent skew is
      returned as a residual finding for a human key-choice review
      instead.
    - ``vacuum_keep_last`` (opt-in, since it trades away time travel) →
      ``vacuum`` with the given retention.

    Returns ``{"version_before", "version_after", "actions",
    "findings_before", "findings_after"}`` where ``actions`` is the
    ``(action, triggering_codes)`` list actually executed — empty, with
    ``version_after == version_before``, on a healthy table."""
    report = analyze_table(path)
    v_before = report["version"]
    codes = {c for c, _ in report["findings"]}
    actions: list[tuple[str, list[str]]] = []
    rewrite_codes = sorted(
        {"SMALL_FILES", "TOMBSTONE_DEBT", "NO_FILE_STATS"} & codes
    )
    if rewrite_codes:
        key0 = _read_manifest(path, v_before)["key_cols"][0]
        # size the rewrite from the MEASURED bucket bytes against a
        # ~128 MiB target file (the warehouse-standard compaction
        # size): a small table compacts to one file per bucket instead
        # of re-fragmenting straight back into a SMALL_FILES finding,
        # while a 100 GiB bucket still splits for parallel scans
        max_bytes = max(
            (info["bytes"] for info in report["buckets"].values()),
            default=0,
        )
        fpb = max(1, math.ceil(max_bytes / (128 << 20)))
        optimize_table(spark, path, sort_by=key0, files_per_bucket=fpb)
        actions.append(("optimize", rewrite_codes))
    # skew is judged on the post-optimize layout: compaction already
    # moved bytes, and acting on a stale report would double-treat.
    # `current` tracks the newest still-valid analysis so a healthy
    # table pays exactly ONE metadata walk, not two (review r9) —
    # vacuum never dirties it (it only removes UNreferenced dirs and
    # old manifests; the current manifest and its file sizes are
    # untouched), only a new commit does.
    current = analyze_table(path) if rewrite_codes else report
    if any(c == "BUCKET_SKEW" for c, _ in current["findings"]):
        n_now = current["n_buckets"]
        target = min(n_now * rebucket_factor, max_buckets)
        if target > n_now:
            rebucket_table(spark, path, target)
            actions.append(("rebucket", ["BUCKET_SKEW"]))
            current = analyze_table(path)
    if vacuum_keep_last is not None:
        vacuum(
            path, keep_last=vacuum_keep_last, min_age_sec=vacuum_min_age_sec
        )
        actions.append(("vacuum", [f"keep_last={vacuum_keep_last}"]))
    return {
        "version_before": v_before,
        "version_after": current["version"],
        "actions": actions,
        "findings_before": report["findings"],
        "findings_after": current["findings"],
    }
