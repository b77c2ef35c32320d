"""Transaction-log table format: log-structured parquet with atomic
MERGE, snapshot isolation, and time travel — the missing piece the
plain-directory ``merge_upsert`` (writers.py) cannot give, because a
bare parquet dir has no commit protocol (reference parity: the
ClickHouse TRUNCATE+reload flow, upgraded to what Delta/Iceberg do).

Layout::

    table/
      _txnlog/00000000.json   # manifest: list of live data files + stats
      _txnlog/00000001.json   # next version — manifests are immutable
      data/part-<uuid>.parquet

Protocol (the Delta/Iceberg core, minimally):

- Data files are immutable; every commit writes NEW files and a NEW
  manifest listing the live set. Readers resolve one manifest — they
  never see a half-committed mix (snapshot isolation), and pinning an
  old version is time travel.
- A commit is one atomic create of ``_txnlog/<v+1>.json`` (write tmp +
  rename-without-overwrite). A concurrent writer racing to the same
  version loses the rename and gets :class:`TxnConflict` — optimistic
  concurrency, no locks.
- Manifests record the table's stat column (``stat_col``) and carry
  per-file min/max stats of it, so MERGE and DELETE prune untouched
  files from metadata alone (data skipping); only files that may
  contain matched keys are read, anti-joined, and rewritten. A 100 TB
  table with updates clustered in 3 files rewrites 3 files.

Everything data-sized is a DataFrame op; driver-side state is manifest
JSON (file names + scalar stats — KB-scale, like any table format's
metadata layer).  The metadata side has one owner per step:
:func:`_snapshot` resolves a version, :func:`_plan_rewrite` plans every
MERGE/DELETE rewrite, :func:`_next_manifest` builds every next-version
manifest, and :func:`_manifests` walks the surviving log.
"""

from __future__ import annotations

import json
import logging
import os
import uuid
from collections.abc import Iterable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_txnlog"
_DATA_DIR = "data"

_log = logging.getLogger(__name__)


class TxnConflict(RuntimeError):
    """Another writer committed this version first — re-read and retry."""


# Spark SQL type names whose min/max stats survive a JSON round-trip
# with value and ordering semantics intact.  Dates, timestamps and
# decimals do NOT (json.dump would stringify them and a later merge
# would compare a manifest string against a native value); stat
# columns of those types are rejected at txn_create time rather than
# corrupting pruning silently.
_JSON_NATIVE_STAT_TYPES = (
    "byte",
    "short",
    "int",
    "integer",
    "bigint",
    "long",
    "float",
    "double",
    "string",
    "boolean",
)

# Z-order cluster columns additionally feed min/max NORMALIZATION
# (operators/zorder), so strings/booleans are out even though their
# stats would survive the JSON round-trip.
_NUMERIC_STAT_TYPES = (
    "byte",
    "short",
    "int",
    "integer",
    "bigint",
    "long",
    "float",
    "double",
)


# File-hit discovery joins the candidate scan against the distinct
# update/delete key set.  A CDC-sized batch (the normal MERGE regime)
# wants a broadcast hash join; a mega-merge with 10^8+ keys must NOT be
# broadcast — the driver would OOM materializing the key set.  The gate
# BOUNDS the key count with an early-exit limit probe (never a full
# count of a huge batch) and drops the hint above the cap, letting AQE
# pick the join strategy from runtime sizes.
_MERGE_BROADCAST_KEY_CAP = 1_000_000


def _hinted_keys(keys: DataFrame) -> DataFrame:
    """``keys`` (already projected+distinct, and persist()ed by the
    caller so the probe and the subsequent join can share work — the
    limit() probe short-circuits, so only the partitions it touched are
    cached and the join may still recompute the rest; correct either
    way, the persist is a best-effort saving) with a broadcast hint iff
    the key count is provably under ``_MERGE_BROADCAST_KEY_CAP``."""
    probe = keys.limit(_MERGE_BROADCAST_KEY_CAP + 1).count()
    return F.broadcast(keys) if probe <= _MERGE_BROADCAST_KEY_CAP else keys


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:08d}.json")


def latest_version(table: str) -> int:
    """Highest committed version, -1 if the table does not exist."""
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return -1
    versions = [
        int(f[:-5])
        for f in os.listdir(log)
        if f.endswith(".json") and f[:-5].isdigit()
    ]
    return max(versions, default=-1)


def _read_manifest(table: str, version: int) -> dict:
    with open(_log_path(table, version)) as f:
        return json.load(f)


def _snapshot(table: str, version: int | None = None) -> dict:
    """Manifest of ``version``, latest by default."""
    v = latest_version(table) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no txnlog table at {table}")
    return _read_manifest(table, v)


def _manifests(table: str, versions: Iterable[int]) -> Iterator[tuple[int, dict]]:
    """``(v, manifest)`` for each of ``versions`` whose manifest still
    exists (vacuum retires old ones), lazily in the given order."""
    for v in versions:
        if os.path.exists(_log_path(table, v)):
            yield v, _read_manifest(table, v)


def _intact_snapshot(table: str, version: int, verb: str) -> dict:
    """Manifest of ``version`` for RESTORE/CLONE, which must still have
    it AND every file it lists.  Log retention and file retention are
    separate axes: a manifest can outlive its files (vacuum keeps
    manifests when its rollup failed), and committing such a snapshot
    would fail at scan time — so probe up front, as Delta's RESTORE
    does.  O(files of one version) driver existence probes, only on
    these explicit operators."""
    if not os.path.exists(_log_path(table, version)):
        raise FileNotFoundError(
            f"version {version} was vacuumed beyond retention"
        )
    m = _read_manifest(table, version)
    missing = [
        e["path"]
        for e in m["files"]
        if not os.path.exists(os.path.join(table, e["path"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"version {version} lost {len(missing)} data file(s) to vacuum "
            f"retention (e.g. {missing[0]}); cannot {verb}"
        )
    return m


def _next_manifest(
    op: str,
    read_v: int,
    base: dict,
    carry: list[dict],
    new_files: Sequence[dict] = (),
    **extras,
) -> dict:
    """The manifest of version ``read_v + 1``: ``carry`` (entries kept
    as they are) plus ``new_files`` (the files this commit wrote,
    recorded under ``added`` so a WAP abort can drop them in O(1)
    manifest reads).  ``base`` is the snapshot whose schema, stat
    column and partition spec the new version keeps; ``extras`` are
    the op's own fields (``rewrote``, ``compacted``,
    ``restored_version``, the prune counts, ...)."""
    manifest = {
        "version": read_v + 1,
        "op": op,
        "read_version": read_v,
        "files": list(carry) + list(new_files),
        "schema": base["schema"],
        "stat_col": base["stat_col"],
        "added": sorted(e["path"] for e in new_files),
        **extras,
    }
    if base.get("partition_by"):
        manifest["partition_by"] = base["partition_by"]
    return manifest


# ---------------------------------------------------------------------------
# Manifest checkpoints (Delta's _checkpoint pattern).
#
# HISTORY, txn_id idempotence replay and WAP-abort liveness used to walk
# one manifest JSON per version — O(versions) driver I/O that a streaming
# MERGE sink (one commit per micro-batch) grows without bound (~10^5
# versions/year).  Every _CHECKPOINT_INTERVAL-th commit therefore also
# writes a rolled-up checkpoint file
#
#     _txnlog/<v>.checkpoint.json
#       {"version": v,
#        "txn_ids": {txn_id: latest version that recorded it, ...},
#        "history": [one txn_history row per version <= v, ascending]}
#
# and the walkers start from the latest checkpoint, reading only the <=
# _CHECKPOINT_INTERVAL tail manifests after it.  Checkpoint builds are
# themselves incremental (previous checkpoint + tail), so commit cost
# stays O(interval), never O(versions).  Checkpoint files are additive
# metadata: every manifest remains the source of truth, a missing or
# stale checkpoint only costs speed, and the put-if-absent commit
# protocol (os.link) makes racing checkpoint writers harmless.  A side
# benefit over the pre-checkpoint code: txn_id replay protection and
# HISTORY now survive txn_vacuum retiring old manifests, because the
# rollup preserves what the deleted JSONs recorded.
# ---------------------------------------------------------------------------

_CHECKPOINT_INTERVAL = 10
_KEEP_CHECKPOINTS = 2  # latest is the fast path; one spare for safety

# Rollup retention horizons (the Delta analogy: DESCRIBE HISTORY has a
# retention window; setTransaction state is bounded).  Without a bound
# the rollup grows one history row + one txn_id per version EVER
# committed, making the every-Nth-commit rewrite amortized O(versions)
# again (code-review r6).  10^4 versions ≈ a week of per-minute
# micro-batch commits: HISTORY beyond it ages out of the rollup, and a
# replayed txn_id older than it is no longer recognized (streaming
# re-delivery only ever replays recent batches; a replay horizon of
# 10^4 commits is far beyond any engine's redelivery window).
_CHECKPOINT_HISTORY_KEEP = 10_000
_CHECKPOINT_TXN_KEEP = 10_000


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:08d}.checkpoint.json")


def _checkpoint_versions(table: str) -> list[int]:
    """Versions with a checkpoint file on disk, newest first."""
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    return sorted(
        (
            int(f.split(".", 1)[0])
            for f in os.listdir(log)
            if f.endswith(".checkpoint.json") and f.split(".", 1)[0].isdigit()
        ),
        reverse=True,
    )


def _latest_checkpoint(table: str) -> dict | None:
    """Newest readable checkpoint rollup, or None.

    Falls back to the previous checkpoint when the newest is corrupt.
    While every manifest still exists that fallback only costs speed;
    AFTER vacuum has retired manifests the newest rollup is part of
    the correctness state (it is the only record of the retired
    versions), so vacuum gates retirement on a verified rollup and
    durable storage of `_txnlog/` is assumed, exactly as for the
    manifests themselves."""
    versions = _checkpoint_versions(table)
    for v in versions:
        try:
            with open(_checkpoint_path(table, v)) as f:
                ckpt = json.load(f)
            # structural validation: a parsable-but-incomplete rollup
            # must degrade to the manifest walk, not KeyError later
            if (
                ckpt.get("version") == v
                and isinstance(ckpt.get("txn_ids"), dict)
                and isinstance(ckpt.get("history"), list)
            ):
                return ckpt
        except (OSError, ValueError):
            continue
    return None


def _history_row(m: dict) -> list:
    """One txn_history row (JSON-native list) from a manifest."""
    return [
        m["version"],
        m.get("op"),
        m.get("read_version"),
        len(m["files"]),
        sum(e["rows"] for e in m["files"]),
        len(json.loads(m["schema"])["fields"]),
        m.get("txn_id"),
        len(m.get("rewrote", []) or m.get("compacted", [])),
    ]


def _write_checkpoint(table: str, version: int) -> None:
    """Roll manifests up to ``version`` into a checkpoint file —
    incrementally, starting from the previous checkpoint.  Racing
    writers both attempt the same put-if-absent; the loser's work is
    simply discarded.

    BEST-EFFORT by contract: the caller's commit is already durable
    when this runs, and a checkpoint only ever buys speed — so no
    failure here (a vacuum racing the rollup loop, ENOSPC on the tmp
    file, a corrupt previous rollup) may surface as a commit error.
    A raise would make the committed MERGE look failed and a retrying
    writer without a txn_id would re-apply the batch as a duplicate
    version (code-review r6 finding).  A failure is logged as one
    WARNING naming the table and version instead."""
    try:
        prev = _latest_checkpoint(table)
        prev_v = prev["version"] if prev is not None else -1
        if prev_v >= version:
            return
        # Degraded-read guard (ADVICE r6): if a checkpoint NEWER than
        # the one we could read exists on disk, the newest rollup may
        # be the only record of versions vacuum already retired — an
        # incremental rebuild from the older fallback would produce a
        # structurally-valid checkpoint that silently LOST those
        # versions' txn_ids/history, and future vacuums would gate on
        # it as verified.  A transient read error must cost speed only,
        # never coverage: refuse to supersede a rollup we couldn't read.
        newest_on_disk = next(iter(_checkpoint_versions(table)), -1)
        if newest_on_disk > prev_v:
            return
        start = prev["version"] + 1 if prev is not None else 0
        txn_ids: dict[str, int] = dict(prev["txn_ids"]) if prev else {}
        history: list[list] = list(prev["history"]) if prev else []
        # a version vacuumed before ever checkpointed is gone, as before
        for v, m in _manifests(table, range(start, version + 1)):
            if m.get("txn_id") is not None:
                txn_ids[m["txn_id"]] = v
            history.append(_history_row(m))
        # retention horizons: without them the rollup re-serializes one
        # row per version EVER committed on every Nth commit — O(total
        # versions), the exact cost class checkpoints exist to remove
        history = history[-_CHECKPOINT_HISTORY_KEEP:]
        txn_floor = version - _CHECKPOINT_TXN_KEEP
        txn_ids = {t: tv for t, tv in txn_ids.items() if tv > txn_floor}
        path = _checkpoint_path(table, version)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        try:
            with open(tmp, "w") as f:
                json.dump(
                    {"version": version, "txn_ids": txn_ids, "history": history},
                    f,
                )
            try:
                os.link(tmp, path)
            except FileExistsError:
                pass  # a concurrent writer checkpointed this version first
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        # retire all but the newest _KEEP_CHECKPOINTS rollups (each new
        # one subsumes the old); manifests are never touched here
        for old_v in _checkpoint_versions(table)[_KEEP_CHECKPOINTS:]:
            try:
                os.unlink(_checkpoint_path(table, old_v))
            except FileNotFoundError:
                pass  # another writer's cleanup won the race
    except Exception as e:
        # slower walks until the next interval retries the rollup
        _log.warning(
            "txnlog checkpoint of %s at version %d failed: %r", table, version, e
        )


def _manifest_schema(m: dict):
    """The manifest's declared StructType. Every multi-file read MUST
    be pinned to this (never schema-inferred from the files): after
    ADD-COLUMN evolution the live set mixes physical schemas, and an
    unpinned read would take whichever file Spark samples first and
    silently drop (or fail on) the evolved columns."""
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(m["schema"]))


def _read_files(spark: SparkSession, table: str, m: dict, entries: list[dict]) -> DataFrame:
    """Schema-pinned read of a subset of a manifest's data files (an
    empty subset reads as the empty frame of that schema)."""
    if not entries:
        return spark.createDataFrame([], _manifest_schema(m))
    return spark.read.schema(_manifest_schema(m)).parquet(
        *[os.path.join(table, e["path"]) for e in entries]
    )


def _commit(table: str, version: int, manifest: dict) -> None:
    """Atomic put-if-absent of the manifest for ``version``."""
    path = _log_path(table, version)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        # no default=str: a non-JSON-native value reaching a manifest is
        # a bug (it would silently stringify min/max stats and poison
        # range pruning) — fail loudly instead
        json.dump(manifest, f, indent=1)
    try:
        # os.link + unlink = create-exclusive even on filesystems where
        # rename silently overwrites (POSIX rename does!); on HDFS/S3
        # this maps to create-with-overwrite=false / If-None-Match.
        os.link(tmp, path)
    except FileExistsError as e:
        raise TxnConflict(
            f"version {version} of {table} was committed concurrently"
        ) from e
    finally:
        os.unlink(tmp)
    if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
        # after (never before) the manifest is durable: a checkpoint may
        # only summarize committed versions.  Cost is O(interval) reads.
        _write_checkpoint(table, version)


# Row budget per physical data file (the write-side split guard in
# _write_data_files).  ~4M rows of slim integer/key columns lands near
# the 128MB-file sweet spot; callers that need different sizing pass a
# differently-partitioned frame — the option only SPLITS, never merges.
_TARGET_FILE_ROWS = 4_000_000


def _write_rewrite(
    spark: SparkSession,
    table: str,
    m: dict,
    rows: DataFrame,
    n_rewrite: int,
) -> list[dict]:
    """Write a MERGE/DELETE rewrite's rows as new files, output
    partitioning sized to its unit of work: a commit that rewrote ``k``
    files writes ~``max(1, k)`` files, range-clustered on the stat
    column so the new files' [lo, hi] stats keep pruning sharp
    (hash-clustered on the partition columns instead when the table is
    partitioned — the hive-style router then emits one file per
    partition value per bucket).

    Without this, the output file count was the ACCIDENTAL partition
    count of the plan — a union of an anti-join's shuffle partitions
    with the update pipeline's input partitions — which at bench scale
    scattered a 2-file rewrite across 5+ tiny files per commit (the
    r11 driver bench read the whole txnlog family 2-4.5x slower on its
    storage purely from that file churn) and at production scale is
    uncontrolled in both directions.  The ``maxRecordsPerFile`` option
    in :func:`_write_data_files` guards the other side: a fat rewrite
    still splits at the row budget regardless of ``n_rewrite``."""
    stat_col = m["stat_col"]
    partition_by = m.get("partition_by") or []
    n_out = max(1, n_rewrite)
    if partition_by:
        rows = rows.repartition(n_out, *[F.col(c) for c in partition_by])
    else:
        rows = rows.repartitionByRange(n_out, stat_col)
    return _write_data_files(
        spark, table, rows, stat_col, partition_by=partition_by
    )


def _write_data_files(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    stat_col: str,
    extra_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> list[dict]:
    """Write ``df`` as new immutable parquet files under data/ and
    return their manifest entries with per-file (min, max, rows) stats
    of ``stat_col`` — one extra scan of only the new files, the price
    of data skipping forever after.  ``extra_cols`` (Z-order clustered
    columns) additionally record per-file min/max under
    ``extra_stats`` so multi-column pruning works on those files;
    entries without ``extra_stats`` simply never prune on those
    columns (unknown range == keep the file).

    ``partition_by`` routes the write hive-style (one directory per
    partition value, every file single-valued in the partition
    columns) and records each file's exact partition values under
    ``"partition"`` — the Delta/Iceberg layout where partition values
    live in the MANIFEST and drive equality pruning.  Unlike Spark's
    own partitionBy, the partition columns stay physically present in
    the data files (cloned to ``__pt_*`` routing columns that the
    schema-pinned reader never sees): a manifest-listed leaf-file read
    does no directory-based partition discovery, so dropping the
    column from the files would return NULLs."""
    extra_cols = [c for c in (extra_cols or []) if c != stat_col]
    partition_by = list(partition_by or [])
    batch = uuid.uuid4().hex[:12]
    out = os.path.join(table, _DATA_DIR, batch)
    # maxRecordsPerFile: upper-bounds rows per physical file no matter
    # what partitioning the caller handed in (the lower bound — don't
    # scatter a small commit across the accidental partition count of
    # the plan — is _write_rewrite's sizing).  At 100 TB this
    # is the split guard that keeps one fat range/partition from
    # becoming a single monster file.
    if partition_by:
        routed = df
        for c in partition_by:
            routed = routed.withColumn(f"__pt_{c}", F.col(c))
        routed.write.mode("error").option(
            "maxRecordsPerFile", _TARGET_FILE_ROWS
        ).partitionBy(*[f"__pt_{c}" for c in partition_by]).parquet(out)
    else:
        df.write.mode("error").option(
            "maxRecordsPerFile", _TARGET_FILE_ROWS
        ).parquet(out)
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.min(stat_col).alias("lo"),
        F.max(stat_col).alias("hi"),
    ]
    for i, c in enumerate(extra_cols):
        aggs += [F.min(c).alias(f"xlo_{i}"), F.max(c).alias(f"xhi_{i}")]
    for i, c in enumerate(partition_by):
        aggs += [F.min(c).alias(f"plo_{i}"), F.max(c).alias(f"phi_{i}")]
    # Schema-pinned read-back: an EMPTY df under partitionBy writes no
    # data files at all (only _SUCCESS), and schema inference over the
    # bare directory throws — with the writer's schema pinned the scan
    # just yields zero rows and the commit carries zero new entries
    # (the unpartitioned writer emits a 0-row part file instead; both
    # shapes are legal, stats aggregate either way).
    stats = (
        spark.read.schema(df.schema)
        .parquet(out)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .collect()
    )
    entries = []
    for r in stats:
        e = {
            "path": os.path.relpath(r["file"].replace("file:", ""), table),
            "rows": r["rows"],
            "stat_col": stat_col,
            "lo": r["lo"],
            "hi": r["hi"],
        }
        if extra_cols:
            e["extra_stats"] = {
                c: [r[f"xlo_{i}"], r[f"xhi_{i}"]]
                for i, c in enumerate(extra_cols)
            }
        if partition_by:
            for i, c in enumerate(partition_by):
                if r[f"plo_{i}"] != r[f"phi_{i}"]:
                    raise RuntimeError(
                        f"partition routing broke: file {e['path']} spans "
                        f"{c}=[{r[f'plo_{i}']}, {r[f'phi_{i}']}]"
                    )
            e["partition"] = {
                c: r[f"plo_{i}"] for i, c in enumerate(partition_by)
            }
        entries.append(e)
    return entries


def _validate_partition_cols(
    partition_by: list[str], types: dict[str, str]
) -> None:
    """Partition values live in the JSON manifest and drive equality
    pruning — same round-trip constraint as the stat column."""
    for c in partition_by:
        t = types.get(c)
        if t is None:
            raise ValueError(f"partition col {c!r} not in table schema")
        if t not in _JSON_NATIVE_STAT_TYPES:
            raise TypeError(
                f"partition col {c!r} has type {t}, whose values do not "
                "survive a JSON manifest round-trip; partition on an "
                "int/string derivation (e.g. a year number)"
            )


def txn_create(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    stat_col: str,
    partition_by: list[str] | None = None,
) -> int:
    """Create version 0 of a txnlog table (errors if it exists).

    ``stat_col`` must be of a JSON-native type (int/float/string/bool):
    its per-file min/max live in the JSON manifests and drive range
    pruning, so a type that JSON would stringify (date, timestamp,
    decimal) is rejected here instead of mis-pruning later.

    ``partition_by`` declares partition columns: every write (create,
    MERGE, DELETE rewrite, OPTIMIZE) routes its new files so each file
    holds exactly one partition value per column, the values are
    recorded per file in the manifest, and readers/writers prune on
    them exactly (see :func:`_scan_plan` and the partition prune in
    :func:`_plan_merge`).  Changeable later — metadata-only — with
    :func:`txn_set_partitioning` (Iceberg-style partition evolution:
    old files keep their recorded values, files from before the spec
    change simply never prune on the new columns)."""
    if latest_version(table) >= 0:
        raise FileExistsError(f"txnlog table already exists: {table}")
    stat_type = dict(df.dtypes).get(stat_col)
    if stat_type is None:
        raise ValueError(f"stat_col {stat_col!r} not in {df.columns}")
    if stat_type not in _JSON_NATIVE_STAT_TYPES:
        raise TypeError(
            f"stat_col {stat_col!r} has type {stat_type}, whose min/max "
            "stats do not survive a JSON manifest round-trip; use an "
            "int/float/string/boolean column (e.g. a day-number or "
            "epoch-seconds derivation of a date)"
        )
    partition_by = list(partition_by or [])
    if partition_by:
        _validate_partition_cols(partition_by, dict(df.dtypes))
    files = _write_data_files(
        spark, table, df, stat_col, partition_by=partition_by
    )
    manifest = {
        "version": 0,
        "op": "create",
        "files": files,
        "schema": df.schema.json(),
        "stat_col": stat_col,
        "added": sorted(e["path"] for e in files),
    }
    if partition_by:
        manifest["partition_by"] = partition_by
    _commit(table, 0, manifest)
    return 0


def txn_read(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: latest manifest, or ``version`` for time travel.
    Only the files the manifest lists are scanned — a reader never sees
    another writer's in-flight files.

    Time travel reaches exactly the versions vacuum retention kept.  A
    version whose manifest survived (e.g. kept because a vacuum-time
    rollup failed) but whose files were reclaimed fails at scan time —
    file retention and log retention are separate axes, as in Delta
    (DESCRIBE HISTORY outlives time travel)."""
    m = _snapshot(table, version)
    # _read_files pins the MANIFEST's schema, not whatever the files
    # happen to contain: after schema evolution (txn_merge schema_mode=
    # "merge") carried files physically lack the new columns and the
    # declared-schema read projects them as NULL — the same mechanism
    # Delta/Iceberg readers use, no file rewrite on ADD COLUMN.
    return _read_files(spark, table, m, m["files"])


def txn_scan_plan(
    table: str,
    col_ranges: dict[str, tuple],
    version: int | None = None,
) -> tuple[list[dict], int]:
    """Data-skipping file plan for a box predicate: returns (selected
    manifest entries, total live file count) for files whose recorded
    stats can intersect EVERY ``col -> (lo, hi)`` range.  Per column, a
    file is skippable only when it carries stats for that column (the
    stat column itself, or an ``extra_stats`` entry written by
    Z-order OPTIMIZE); files without stats for a predicate column are
    conservatively kept — pruning is an optimization, never a filter.
    Manifest-metadata only: no Spark job, no data file touched."""
    return _scan_plan(_snapshot(table, version), col_ranges)


def _scan_plan(m: dict, col_ranges: dict[str, tuple]) -> tuple[list[dict], int]:
    def keep(e: dict) -> bool:
        for col, (lo, hi) in col_ranges.items():
            part = e.get("partition") or {}
            if col in part:
                # partition values are EXACT (every file single-valued
                # by write routing): the tightest possible stats
                if part[col] is None:
                    continue  # null partition: cannot skip
                flo = fhi = part[col]
            elif col == e["stat_col"]:
                flo, fhi = e["lo"], e["hi"]
            else:
                xs = (e.get("extra_stats") or {}).get(col)
                if xs is None:
                    continue  # no stats recorded: cannot skip
                flo, fhi = xs
            if flo is None or fhi is None:
                continue
            if fhi < lo or flo > hi:
                return False
        return True

    return [e for e in m["files"] if keep(e)], len(m["files"])


def txn_read_where(
    spark: SparkSession,
    table: str,
    col_ranges: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with multi-column data skipping + the exact box
    filter applied on top: only files whose manifest stats intersect
    every range are scanned (see :func:`txn_scan_plan`), then the
    predicate re-applies row-exactly, so the result is identical to
    filtering a full :func:`txn_read` — just cheaper after a Z-order
    OPTIMIZE laid files out with small per-column bounding boxes."""
    m = _snapshot(table, version)
    selected, _total = _scan_plan(m, col_ranges)
    df = _read_files(spark, table, m, selected)
    for col, (lo, hi) in col_ranges.items():
        df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    return df


# Partition pruning collects the update batch's DISTINCT partition
# tuples to the driver.  Partition counts are bounded by layout design
# (days, years, tenants — metadata-scale), but the cap keeps a
# mis-partitioned table (partitioned on a near-unique column) from
# materializing an unbounded driver set: above it, pruning is simply
# skipped — an optimization, never a filter.
_MERGE_PARTITION_PRUNE_CAP = 10_000


def _partition_prune_candidates(
    candidates: list[dict],
    upd_keys: DataFrame,
    key_cols: list[str],
    partition_by: list[str],
) -> list[dict]:
    """Drop candidate files whose recorded partition values cannot hold
    any update key — SOUND ONLY when every partition column is itself a
    merge key (then an update's partition tuple IS where its matched
    rows live); a non-key partition column can be CHANGED by an update,
    moving the row across partitions, so pruning is skipped (the exact
    semi-join prune still bounds the rewrite).

    A file recorded with NO value for some CURRENT partition column —
    written before the spec evolved to that column, or under no spec at
    all — is conservatively KEPT: its recorded values say nothing about
    where the current spec's columns place its rows.  (r10 review
    repro: treating the missing value as a prunable None let a
    pre-evolution file escape a MERGE rewrite, leaving both the old row
    and the merged row live — a duplicate key.)

    ``upd_keys`` must be the already-distinct (and persisted) update
    KEY frame: partition_by ⊆ key_cols holds on every pruning path, so
    the partition tuples are a cheap projection of it and the arbitrary
    updates pipeline is never re-evaluated just for pruning."""
    if not partition_by or not set(partition_by) <= set(key_cols):
        return candidates
    rows = (
        upd_keys.select(*partition_by)
        .distinct()
        .limit(_MERGE_PARTITION_PRUNE_CAP + 1)
        .collect()
    )
    if len(rows) > _MERGE_PARTITION_PRUNE_CAP:
        return candidates
    live = {tuple(r[c] for c in partition_by) for r in rows}
    kept = []
    for e in candidates:
        part = e.get("partition")
        if part is None or any(c not in part for c in partition_by):
            kept.append(e)  # pre-evolution file: no basis to prune
        elif tuple(part[c] for c in partition_by) in live:
            kept.append(e)
    return kept


def _plan_rewrite(
    spark: SparkSession,
    table: str,
    m: dict,
    keys: DataFrame,
    key_cols: list[str],
) -> tuple[list[dict], list[dict], int, int]:
    """File-level planning shared by MERGE and DELETE: split snapshot
    ``m``'s files into ``rewrite`` (files holding at least one of
    ``keys``) and ``carry`` (every other file, kept untouched), and
    return ``(rewrite, carry, n_stat_candidates, n_candidates)``.

    1. metadata prune: drop files whose [lo, hi] range of the stat
       column cannot contain any key — SOUND ONLY when the stat column
       is itself a key column (then a key's stat value is the value the
       matched rows hold); when it is not, an update may change a row's
       stat value and the range says nothing about where the matched
       KEYS live, so pruning is skipped and every file is a candidate
       (correctness over speed — exact pruning in step 3 still bounds
       the rewrite);
    2. partition prune (:func:`_partition_prune_candidates`): sound
       under the same key-subset condition — a delete never moves a
       row, and an update cannot move one when partition_by ⊆ key_cols;
    3. exact prune: scan only the candidates, semi-join the keys, and
       collect the NAMES of files actually holding matches (bounded
       driver list, standard MERGE planning).

    The two counts are the candidates after steps 1 and 2.  Comparing
    them isolates partition pruning from stat pruning: equal means the
    partition prune dropped nothing (e.g. the conservative keep on
    pre-evolution files); ``n_candidates`` strictly smaller proves
    partition pruning was live for this plan.  Comparing
    ``n_candidates`` to the snapshot's file count instead would conflate
    the two prunes and misread a legitimate stat-range drop as a
    partition prune (r11 review).

    One evaluation of the arbitrary keys pipeline feeds ALL of
    planning: the persisted distinct key set drives the stat-range
    probe, the partition-tuple prune and the exact semi-join — before
    r10 review each step re-ran the full pipeline as its own driver
    action."""
    stat_col = m["stat_col"]
    distinct_keys = keys.select(*key_cols).distinct().persist()
    try:
        if stat_col in key_cols:
            krange = distinct_keys.agg(
                F.min(stat_col).alias("lo"), F.max(stat_col).alias("hi")
            ).collect()[0]
            candidates = [
                e
                for e in m["files"]
                if krange["lo"] is not None
                and not (e["hi"] < krange["lo"] or e["lo"] > krange["hi"])
            ]
        else:
            candidates = list(m["files"])
        n_stat_candidates = len(candidates)
        candidates = _partition_prune_candidates(
            candidates, distinct_keys, key_cols, m.get("partition_by") or []
        )
        untouched = [e for e in m["files"] if e not in candidates]

        hit_files: set[str] = set()
        if candidates:
            cand_df = _read_files(spark, table, m, candidates)
            hits = (
                cand_df.select(*key_cols, F.input_file_name().alias("__f"))
                .join(_hinted_keys(distinct_keys), key_cols)
                .select("__f")
                .distinct()
                .collect()
            )
            hit_files = {
                os.path.relpath(r["__f"].replace("file:", ""), table)
                for r in hits
            }
    finally:
        distinct_keys.unpersist()
    rewrite = [e for e in candidates if e["path"] in hit_files]
    carry = untouched + [e for e in candidates if e["path"] not in hit_files]
    return rewrite, carry, n_stat_candidates, len(candidates)


def _plan_merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    schema_mode: str = "strict",
) -> dict:
    """Plan (and physically write the new data files of) a MERGE
    against the current snapshot, returning the would-be manifest for
    version read_version+1 WITHOUT committing it.  Shared core of
    :func:`txn_merge` (plan+commit) and :func:`txn_stage_merge`
    (plan+hold for write-audit-publish).  The new files are invisible
    until some manifest references them, so planning is side-effect-
    free from any reader's point of view.

    ``schema_mode="strict"`` (default): updates must carry the table's
    columns; extra update columns are ignored.  ``schema_mode="merge"``:
    columns present in ``updates`` but not in the table are ADDED to
    the table schema (nullable) in the same commit — carried files are
    NOT rewritten; reads project the missing columns as NULL via the
    manifest-schema read in :func:`txn_read`.  A same-name column with
    a different type is always an error (no implicit casts).

    File-level planning is :func:`_plan_rewrite`; the files holding
    matches are anti-joined against the update keys and written back
    with the updates as new files."""
    m = _snapshot(table)
    rewrite, carry, n_stat_candidates, n_candidates = _plan_rewrite(
        spark, table, m, updates, key_cols
    )

    from pyspark.sql import types as T

    table_schema = _manifest_schema(m)
    table_cols = [f.name for f in table_schema.fields]
    if schema_mode == "merge":
        upd_types = dict(updates.dtypes)
        tbl_types = {
            f.name: f.dataType.simpleString() for f in table_schema.fields
        }
        for c in table_cols:
            if c in upd_types and upd_types[c] != tbl_types[c]:
                raise TypeError(
                    f"schema evolution cannot change column {c!r} from "
                    f"{tbl_types[c]} to {upd_types[c]}"
                )
        added = [
            T.StructField(f.name, f.dataType, True)  # evolved cols nullable:
            for f in updates.schema.fields  # carried files read them as NULL
            if f.name not in set(table_cols)
        ]
        evolved_schema = T.StructType(table_schema.fields + added)
        out_cols = table_cols + [f.name for f in added]
        missing = [c for c in table_cols if c not in upd_types]
        if missing:
            raise ValueError(
                f"schema_mode='merge' adds columns but never drops: "
                f"updates are missing table columns {missing}"
            )
    elif schema_mode == "strict":
        evolved_schema, out_cols, added = table_schema, table_cols, []
    else:
        raise ValueError(f"unknown schema_mode {schema_mode!r}")

    if rewrite:
        old = _read_files(spark, table, m, rewrite)
        kept = old.join(updates.select(*key_cols), key_cols, "left_anti")
        for f in added:
            kept = kept.withColumn(f.name, F.lit(None).cast(f.dataType))
        new_rows = kept.select(*out_cols).unionByName(updates.select(*out_cols))
    else:
        new_rows = updates.select(*out_cols)
    new_files = _write_rewrite(spark, table, m, new_rows, len(rewrite))
    return _next_manifest(
        "merge",
        m["version"],
        dict(m, schema=evolved_schema.json()),
        carry,
        new_files,
        rewrote=sorted(e["path"] for e in rewrite),
        n_stat_candidates=n_stat_candidates,
        n_candidates=n_candidates,
    )


def txn_merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    schema_mode: str = "strict",
    txn_id: str | None = None,
) -> int:
    """MERGE with snapshot isolation: matched keys replaced, new keys
    appended, committed as one new version.

    ``schema_mode="strict"`` (default): updates must carry the table's
    columns; extra update columns are ignored.  ``schema_mode="merge"``:
    columns present in ``updates`` but not in the table are ADDED to
    the table schema (nullable) in the same commit — carried files are
    NOT rewritten; reads project the missing columns as NULL via the
    manifest-schema read in :func:`txn_read`.  A same-name column with
    a different type is always an error (no implicit casts).

    See :func:`_plan_merge` for the file-level planning (metadata range
    prune → exact semi-join prune → bounded rewrite).

    ``txn_id``: optional idempotence key (Delta's txn appId/version,
    Iceberg's snapshot summary property).  When set, a merge whose
    txn_id already appears in the commit log is SKIPPED and the
    existing version returned — a replayed streaming micro-batch
    (foreachBatch re-delivery after a crash) becomes exactly-once in
    both content AND version history, not just content-idempotent.
    """
    if txn_id is not None:
        applied = _applied_txn_version(table, txn_id)
        if applied is not None:
            return applied
    manifest = _plan_merge(spark, table, updates, key_cols, schema_mode)
    if txn_id is not None:
        manifest["txn_id"] = txn_id
    _commit(table, manifest["version"], manifest)
    return manifest["version"]


def _applied_txn_version(table: str, txn_id: str) -> int | None:
    """Latest version whose manifest recorded ``txn_id``, else None.
    Walks only the manifests AFTER the latest checkpoint (<= interval
    files), then falls back to the checkpoint's rolled-up txn_id map —
    O(interval), not O(versions), under a streaming MERGE sink, and the
    replay check survives vacuum retiring old manifest JSONs."""
    ckpt = _latest_checkpoint(table)
    floor = ckpt["version"] if ckpt is not None else -1
    for v, m in _manifests(table, range(latest_version(table), floor, -1)):
        if m.get("txn_id") == txn_id:
            return v
    if ckpt is not None:
        return ckpt["txn_ids"].get(txn_id)
    return None


_STAGED_DIR = "staged"


def _staged_path(table: str, token: str) -> str:
    return os.path.join(table, _LOG_DIR, _STAGED_DIR, f"{token}.json")


def _read_staged(table: str, token: str) -> dict:
    with open(_staged_path(table, token)) as f:
        return json.load(f)


def txn_stage_merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    schema_mode: str = "strict",
) -> str:
    """Write-audit-publish, step 1 (WRITE): run the full MERGE planning
    and data-file writes, but hold the manifest in a staging area
    instead of committing — no reader can see the result.  Returns a
    token for :func:`txn_read_staged` (AUDIT), :func:`txn_publish`
    (atomic go-live) and :func:`txn_abort` (discard).

    The Iceberg/Delta WAP workflow: a pipeline stages its output, runs
    its data-quality gate (operators/constraints.constraint_report)
    against the staged snapshot, and only a passing audit publishes.
    """
    manifest = _plan_merge(spark, table, updates, key_cols, schema_mode)
    token = uuid.uuid4().hex[:12]
    path = _staged_path(table, token)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(manifest, f, indent=1)
    return token


def txn_read_staged(spark: SparkSession, table: str, token: str) -> DataFrame:
    """AUDIT view: the table as it WOULD look if the staged merge
    published — schema-pinned like any snapshot read."""
    m = _read_staged(table, token)
    return _read_files(spark, table, m, m["files"])


def txn_publish(table: str, token: str) -> int:
    """PUBLISH: atomically commit the staged manifest as the next
    version.  Raises :class:`TxnConflict` if any writer committed since
    the stage was planned (its file pruning is stale) — re-stage
    against the new snapshot, exactly like an optimistic retry."""
    m = _read_staged(table, token)
    if latest_version(table) != m["read_version"]:
        raise TxnConflict(
            f"staged merge read version {m['read_version']} but the table "
            f"is now at {latest_version(table)}; abort and re-stage"
        )
    _commit(table, m["version"], m)
    os.unlink(_staged_path(table, token))
    return m["version"]


def txn_abort(table: str, token: str) -> list[str]:
    """Discard a staged merge: delete its manifest and every data file
    it introduced (files carried from committed versions are untouched).

    The staged manifest's ``added`` list IS the set of files the stage
    wrote (uuid-batch-named, referenced by no committed manifest by
    construction), so the drop is O(1) manifest reads.  A pre-``added``
    staged manifest falls back to the old proof — walk every committed
    version and delete only paths none of them reference."""
    m = _read_staged(table, token)
    added = m.get("added")
    if added is None:  # legacy staged manifest without provenance
        committed = {
            e["path"]
            for _v, cm in _manifests(table, range(latest_version(table) + 1))
            for e in cm["files"]
        }
        added = [e["path"] for e in m["files"] if e["path"] not in committed]
    removed = []
    for rel in added:
        full = os.path.join(table, rel)
        if os.path.exists(full):
            os.unlink(full)
            removed.append(rel)
    os.unlink(_staged_path(table, token))
    return sorted(removed)


def txn_optimize(
    spark: SparkSession,
    table: str,
    target_rows: int = 1_000_000,
    min_files_per_bin: int = 2,
    cluster: bool = False,
    cluster_cols: list[str] | None = None,
) -> int | None:
    """OPTIMIZE (compaction): bin-pack small live files into fewer,
    larger ones and commit the rewritten file set as one new version —
    the small-file remedy every log-structured table needs under steady
    MERGE traffic (each commit appends new files; Delta/Iceberg ship
    OPTIMIZE for exactly this).

    Files holding >= ``target_rows`` rows are left alone; the rest are
    first-fit-decreasing packed into bins of <= ``target_rows`` rows,
    and every bin with at least ``min_files_per_bin`` members is
    rewritten as a single file (a bin that would map 1 file -> 1 file
    is carried untouched — no write amplification without gain).

    ``cluster=True`` additionally RANGE-CLUSTERS the rewritten rows on
    the stat column (repartitionByRange + sortWithinPartitions — the
    OPTIMIZE ZORDER analog for a single stat column): after steady
    MERGE traffic every small file tends to span the whole key range,
    so min/max pruning degrades to scan-everything; clustering makes
    the rewritten files' stat ranges (near-)disjoint, restoring
    prune-to-k-files MERGE planning. One extra range shuffle over only
    the compacted rows.

    ``cluster_cols=[a, b, ...]`` (2-4 numeric columns) runs the REAL
    multi-column form — OPTIMIZE ZORDER (Delta) / z-order sort
    (Iceberg): rows sort by the Morton interleave of the columns
    (operators/zorder.zorder_key), so each rewritten file has a small
    bounding box in EVERY clustered column at once, and its per-column
    min/max land in the manifest (``extra_stats``).  A box predicate
    over any subset of the clustered columns then prunes via
    :func:`txn_read_where` to roughly the files its box touches,
    instead of scanning everything whenever the filter is not on the
    single stat column.  Same cost shape as ``cluster=True``: one
    min/max aggregate + one range shuffle over only the compacted
    rows.

    The data content is identical before and after: snapshot readers
    of the new version see the same rows, and time travel to any
    pre-optimize version still resolves the old manifests over the old
    (immutable, still-present) files until ``txn_vacuum`` retires
    them. Returns the committed version, or None when nothing needed
    compacting. Bin planning is manifest metadata only (KB-scale);
    each bin rewrite is one bounded Spark job."""
    m = _snapshot(table)
    if not m["files"]:
        return None
    small = [e for e in m["files"] if e["rows"] < target_rows]
    keep = [e for e in m["files"] if e["rows"] >= target_rows]
    stat_col = m["stat_col"]
    partition_by = m.get("partition_by") or []

    if cluster or cluster_cols:
        # one clustering path: the small files form ONE bin whose sort
        # key is the stat column (range clustering) or the Morton
        # interleave (ZORDER); bin rewrite and manifest bookkeeping are
        # shared with bin-packing below, so a fix to either regime
        # cannot miss the other
        if cluster_cols:
            # clustered-column stats live in the JSON manifest (same
            # round-trip constraint as the stat column) AND feed the
            # Morton normalization, so they must be numeric
            types = {
                f.name: f.dataType.simpleString()
                for f in _manifest_schema(m).fields
            }
            for c in cluster_cols:
                if c not in types:
                    raise ValueError(f"cluster col {c!r} not in table schema")
                if types[c] not in _NUMERIC_STAT_TYPES:
                    raise TypeError(
                        f"cluster col {c!r} has type {types[c]}; Z-order "
                        "normalization needs a numeric column whose stats "
                        "survive a JSON manifest round-trip"
                    )
        if len(small) < min_files_per_bin:
            return None
        rewrite_bins, carry = [small], keep
        n_out = max(1, -(-sum(e["rows"] for e in small) // target_rows))
        extras = {"clustered": True}
        if cluster_cols:
            extras["clustered_cols"] = list(cluster_cols)

        def shaped(merged: DataFrame) -> DataFrame:
            if cluster_cols:
                from ..operators.zorder import zorder_key

                sort_key = zorder_key(merged, list(cluster_cols))
            else:
                sort_key = F.col(stat_col)
            # collision-free temp name: a table that legitimately has a
            # "__ckey" column must not be clobbered then dropped from
            # the rewritten files (ADVICE r5)
            ckey = f"__ckey_{uuid.uuid4().hex[:8]}"
            return (
                merged.withColumn(ckey, sort_key)
                .repartitionByRange(n_out, ckey)
                .sortWithinPartitions(ckey)
                .drop(ckey)
            )

    else:
        # Bin-pack WITHIN a partition (Delta/Iceberg OPTIMIZE
        # semantics): the routed write would split a cross-partition
        # bin back into one file per partition anyway — correct, but it
        # churns files without compacting.  Files predating partition
        # evolution (no recorded values) pack together under the
        # no-partition group.
        def _ptuple(e: dict):
            part = e.get("partition") or {}
            return tuple(part.get(c) for c in partition_by)

        groups: dict[tuple, list[dict]] = {}
        for e in small:
            groups.setdefault(_ptuple(e), []).append(e)

        bins: list[list[dict]] = []
        for group in groups.values():
            gbins: list[list[dict]] = []
            fill: list[int] = []
            for e in sorted(group, key=lambda e: -e["rows"]):
                for i, used in enumerate(fill):
                    if used + e["rows"] <= target_rows:
                        gbins[i].append(e)
                        fill[i] += e["rows"]
                        break
                else:
                    gbins.append([e])
                    fill.append(e["rows"])
            bins.extend(gbins)
        rewrite_bins = [b for b in bins if len(b) >= min_files_per_bin]
        if not rewrite_bins:
            return None
        carry = keep + [e for b in bins if len(b) < min_files_per_bin for e in b]
        extras = {}

        def shaped(merged: DataFrame) -> DataFrame:
            return merged.coalesce(1)

    new_files: list[dict] = []
    for b in rewrite_bins:
        new_files.extend(
            _write_data_files(
                spark,
                table,
                shaped(_read_files(spark, table, m, b)),
                stat_col,
                extra_cols=cluster_cols,
                partition_by=partition_by,
            )
        )
    manifest = _next_manifest(
        "optimize",
        m["version"],
        m,
        carry,
        new_files,
        compacted=sorted(e["path"] for b in rewrite_bins for e in b),
        **extras,
    )
    _commit(table, manifest["version"], manifest)
    return manifest["version"]


def txn_vacuum(table: str, keep_versions: int = 2) -> list[str]:
    """Delete data files referenced by no retained manifest (old
    versions beyond ``keep_versions`` lose time travel). Returns the
    deleted paths.  Files referenced by PENDING staged merges
    (write-audit-publish) count as live — vacuum never races an audit.

    Before retiring any manifest, the commit log is rolled up into a
    checkpoint at the current version (O(tail)), so DESCRIBE HISTORY
    and txn_id replay protection NEVER lose a version to retention —
    without this, versions committed after the last interval rollup
    and vacuumed before the next one would vanish from both (r6).
    Manifest retirement is GATED on that rollup being verifiably on
    disk: _write_checkpoint is best-effort (it may not raise into a
    caller), so if the rollup failed — ENOSPC, a racing writer — the
    old manifests are simply kept until a later vacuum succeeds; data
    FILE reclamation is unaffected either way, since file liveness
    derives from the retained manifests, not the rollup (code-review
    r6: retiring manifests after a silently failed rollup would
    permanently destroy replay protection)."""
    v = latest_version(table)
    rolled_up = False
    if v >= 0:
        _write_checkpoint(table, v)
        ckpt = _latest_checkpoint(table)
        rolled_up = ckpt is not None and ckpt["version"] >= v
    retained = range(max(0, v - keep_versions + 1), v + 1)
    # a retained version's manifest may already be gone when an EARLIER
    # vacuum ran with a tighter keep_versions (the retention window can
    # grow between runs) — such versions contribute no live references,
    # exactly like any other already-retired version (found by the r6
    # full-algebra randomized property: vacuum(keep=2) then
    # vacuum(keep=4) crashed here)
    live = {e["path"] for _rv, m in _manifests(table, retained) for e in m["files"]}
    staged_dir = os.path.join(table, _LOG_DIR, _STAGED_DIR)
    if os.path.isdir(staged_dir):
        for f in os.listdir(staged_dir):
            if f.endswith(".json"):
                with open(os.path.join(staged_dir, f)) as fh:
                    live |= {e["path"] for e in json.load(fh)["files"]}
    removed = []
    data_root = os.path.join(table, _DATA_DIR)
    for dirpath, _dirs, files in os.walk(data_root):
        for f in files:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, table)
            if f.endswith(".parquet") and rel not in live:
                os.unlink(full)
                removed.append(rel)
    if rolled_up:
        for rv in range(0, retained.start):
            p = _log_path(table, rv)
            if os.path.exists(p):
                os.unlink(p)
    return sorted(removed)


def txn_delete(
    spark: SparkSession,
    table: str,
    keys: DataFrame,
    key_cols: list[str],
) -> int:
    """DELETE by key set, committed as one new version — MERGE's
    file-level planning (:func:`_plan_rewrite`: stat-range and
    partition prunes, exact file prune via a broadcast semi-join, and
    the same ``n_stat_candidates``/``n_candidates`` certificate in the
    manifest) with the union-of-updates step removed: rewritten files
    keep only their anti-joined survivors. Files with no matches are
    carried untouched; a file whose every row matches simply
    contributes no new rows."""
    m = _snapshot(table)
    rewrite, carry, n_stat_candidates, n_candidates = _plan_rewrite(
        spark, table, m, keys, key_cols
    )
    new_files: list[dict] = []
    if rewrite:
        old = _read_files(spark, table, m, rewrite)
        kept = old.join(keys.select(*key_cols), key_cols, "left_anti")
        new_files = _write_rewrite(spark, table, m, kept, len(rewrite))
    manifest = _next_manifest(
        "delete",
        m["version"],
        m,
        carry,
        new_files,
        rewrote=sorted(e["path"] for e in rewrite),
        n_stat_candidates=n_stat_candidates,
        n_candidates=n_candidates,
    )
    _commit(table, manifest["version"], manifest)
    return manifest["version"]


def txn_changes(
    spark: SparkSession,
    table: str,
    key_cols: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed between two snapshots, derived from the
    manifests alone — no per-commit change logging: because data files
    are immutable, every row-level difference between the snapshots
    lives in (files removed since ``from_version``) vs (files added
    since), so only CHANGED files are scanned, never the carried bulk
    of the table. Rows that merely moved files (OPTIMIZE compaction)
    appear on both sides with equal values and are dropped — a pure
    compaction between the versions yields an empty feed.

    Returns the COMMON schema of the two endpoint versions plus
    ``_change_type`` in {'insert', 'delete', 'update_preimage',
    'update_postimage'} (pre rows carry from-version values, post rows
    to-version values). When the schema only grew between the
    endpoints (the ADD-COLUMN evolution path) the common schema IS the
    from-version schema — columns added in between are by definition
    not changes to from-version values. A RESTORE can also SHRINK the
    schema between the endpoints (back past an evolution); comparing
    anything but the intersection would be unresolvable on one side
    (found by the r6 full-algebra randomized property). Assumes the
    MERGE discipline's key uniqueness per snapshot."""
    from pyspark.sql import types as T

    m_from = _read_manifest(table, from_version)
    m_to = _snapshot(table, to_version)
    to_v = m_to["version"]
    from_paths = {e["path"] for e in m_from["files"]}
    to_paths = {e["path"] for e in m_to["files"]}
    removed = sorted(from_paths - to_paths)
    added = sorted(to_paths - from_paths)
    to_names = set(_manifest_schema(m_to).fieldNames())
    schema = T.StructType(
        [f for f in _manifest_schema(m_from).fields if f.name in to_names]
    )
    missing_keys = [k for k in key_cols if k not in {f.name for f in schema.fields}]
    if missing_keys:
        raise ValueError(
            f"key columns {missing_keys} are not present in both endpoint "
            f"schemas of the change feed ({from_version} -> {to_v})"
        )

    cols = [f.name for f in schema.fields]

    def _side(paths: list[str], m_side: dict) -> DataFrame:
        # pinned to the OWNING version's schema, then projected onto
        # the common columns (see docstring).
        entries = [{"path": p} for p in paths]
        return _read_files(spark, table, m_side, entries).select(*cols)

    val_cols = [c for c in cols if c not in key_cols]
    o = _side(removed, m_from).alias("o")
    n = _side(added, m_to).alias("n")
    cond = None
    for k in key_cols:
        eq = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"o.{key_cols[0]}").isNotNull()
    in_new = F.col(f"n.{key_cols[0]}").isNotNull()
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))

    def _pick(side: str) -> list:
        return [F.col(f"{side}.{c}").alias(c) for c in cols]

    inserts = j.filter(~in_old & in_new).select(
        *_pick("n"), F.lit("insert").alias("_change_type")
    )
    deletes = j.filter(in_old & ~in_new).select(
        *_pick("o"), F.lit("delete").alias("_change_type")
    )
    upd = j.filter(in_old & in_new & ~same)
    pre = upd.select(*_pick("o"), F.lit("update_preimage").alias("_change_type"))
    post = upd.select(*_pick("n"), F.lit("update_postimage").alias("_change_type"))
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)


def txn_history(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version — operation,
    read version, file/row counts, schema width, txn_id, and what the
    commit rewrote/compacted. Manifest-JSON-derived (KB-scale driver
    metadata, no data files touched), returned as a DataFrame so the
    audit query can join/filter it like any table.

    Reads the latest checkpoint rollup plus only the manifests after it
    (<= interval JSONs) instead of one JSON per version; versions whose
    manifests a checkpoint captured before vacuum retired them still
    appear (the pre-checkpoint code silently dropped them).  Like
    Delta's DESCRIBE HISTORY retention, the rollup carries a bounded
    horizon (``_CHECKPOINT_HISTORY_KEEP`` newest versions) so rollup
    rewrites never grow O(total versions); a log older than the
    horizon ages out of this view."""
    ckpt = _latest_checkpoint(table)
    rows = [tuple(r) for r in ckpt["history"]] if ckpt is not None else []
    start = ckpt["version"] + 1 if ckpt is not None else 0
    # a version vacuumed beyond retention and never checkpointed is gone
    rows += [
        tuple(_history_row(m))
        for _v, m in _manifests(table, range(start, latest_version(table) + 1))
    ]
    return spark.createDataFrame(
        rows,
        "version int, op string, read_version int, n_files int, "
        "n_rows long, n_columns int, txn_id string, n_rewritten int",
    )


def txn_file_stats(spark: SparkSession, table: str, version: int | None = None) -> DataFrame:
    """DESCRIBE DETAIL at file granularity: the live files of a
    snapshot with their row counts and min/max pruning stats — the
    observability view behind OPTIMIZE decisions (small-file counts)
    and data-skipping effectiveness (range overlap)."""
    m = _snapshot(table, version)
    v = m["version"]
    rows = [
        (v, e["path"], e["rows"], e["stat_col"], str(e["lo"]), str(e["hi"]))
        for e in m["files"]
    ]
    return spark.createDataFrame(
        rows,
        "version int, path string, n_rows long, stat_col string, "
        "lo string, hi string",
    )


def txn_restore(table: str, to_version: int) -> int:
    """RESTORE: make an earlier snapshot current again by committing
    its manifest (file list + schema) as a NEW version — history is
    append-only, so the restore is itself time-travelable and a
    concurrent writer still conflicts atomically. Metadata-only: no
    data files move (Delta RESTORE semantics). Requires the target
    version's manifest (and therefore its files — vacuum retention) to
    still exist."""
    v = latest_version(table)
    if to_version < 0 or to_version > v:
        raise ValueError(f"cannot restore {table} to version {to_version}")
    m = _intact_snapshot(table, to_version, "restore")
    # the restored snapshot is the base: RESTORE rolls the partition
    # spec back WITH the schema, so writes after a restore route the
    # way writes at the restored version did
    manifest = _next_manifest(
        "restore", v, m, m["files"], restored_version=to_version
    )
    _commit(table, v + 1, manifest)
    return v + 1


def txn_clone(src: str, dst: str, version: int | None = None) -> int:
    """CLONE: create ``dst`` as a NEW txnlog table whose v0 snapshot is
    ``src`` at ``version`` (latest by default) — Delta CLONE semantics,
    except data files are HARDLINKED instead of referenced: zero data
    bytes move on one filesystem (cross-device falls back to a real
    copy), and unlike Delta's shallow clone the result is FULLY
    isolated — vacuum on either table unlinks only its own directory
    entry, the shared inode lives until both sides drop it, and the
    format's files are immutable so sharing an inode is always safe.

    The clone starts fresh history: one v0 manifest with op "clone"
    recording provenance (source path + version).  The source's
    history, txn_ids, checkpoints and WAP stages do NOT carry over.
    Like RESTORE, the target manifest AND its files must still exist
    (file and log retention are separate axes) — probed up front with
    the labeled error.  Cost: O(files of one version) driver-side
    probes + link calls, no Spark job.

    Uses: dev/test sandboxes off a production table, reproducible
    benchmark fixtures (build the multi-commit base once, clone per
    run), point-in-time forks for backfill experiments."""
    import errno
    import shutil

    if latest_version(dst) >= 0:
        raise FileExistsError(f"txnlog table already exists: {dst}")
    if os.path.isdir(dst) and os.listdir(dst):
        # a manifest-less but non-empty destination is either a crashed
        # prior clone or foreign data; adopting it would let the EXDEV
        # copy fallback silently overwrite its files
        raise FileExistsError(f"clone destination is not empty: {dst}")
    head = latest_version(src)
    if head < 0:
        raise FileNotFoundError(f"source txnlog table does not exist: {src}")
    v = head if version is None else version
    if v < 0 or v > head:
        raise ValueError(f"cannot clone {src} at version {v} (head {head})")
    m = _intact_snapshot(src, v, "clone")
    for e in m["files"]:
        s = os.path.join(src, e["path"])
        d = os.path.join(dst, e["path"])
        os.makedirs(os.path.dirname(d), exist_ok=True)
        try:
            os.link(s, d)
        except OSError as ex:
            # ONLY cross-device degrades to a copy; anything else
            # (collision, permissions) must surface, not be papered
            # over by an overwrite
            if ex.errno != errno.EXDEV:
                raise
            shutil.copy2(s, d)
    manifest = {
        "version": 0,
        "op": "clone",
        "cloned_from": os.path.abspath(src),
        "cloned_version": v,
        "files": m["files"],
        "schema": m["schema"],
        "stat_col": m["stat_col"],
        "added": sorted(e["path"] for e in m["files"]),
    }
    # per-file partition values ride along inside m["files"]; the
    # table-level spec must follow them so the clone's own writes route
    if m.get("partition_by"):
        manifest["partition_by"] = m["partition_by"]
    _commit(dst, 0, manifest)
    return 0


def txn_set_partitioning(
    table: str, partition_by: list[str] | None
) -> int:
    """Partition evolution (Iceberg-style): change the partition spec
    for FUTURE writes with a metadata-only commit — no data file moves
    or rewrites.  Files keep the per-file partition values they were
    written with: pruning is per-file, so old-spec files still prune
    exactly on their recorded columns and simply never prune on the
    new ones (conservatively kept, like any file without stats).
    ``partition_by=None`` (or ``[]``) drops partitioning for future
    writes.  Committed through the same put-if-absent protocol, so it
    conflicts atomically with concurrent writers."""
    m = _snapshot(table)
    partition_by = list(partition_by or [])
    if partition_by:
        _validate_partition_cols(
            partition_by,
            {f.name: f.dataType.simpleString() for f in _manifest_schema(m).fields},
        )
    manifest = _next_manifest(
        "set_partitioning",
        m["version"],
        dict(m, partition_by=partition_by),
        m["files"],
    )
    _commit(table, manifest["version"], manifest)
    return manifest["version"]
