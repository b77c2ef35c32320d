"""Transaction-log table format: atomic commit, snapshot isolation,
time travel, file-pruned MERGE, conflict detection, vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from big_data_processing_spark.sources.txnlog import (
    TxnConflict,
    _log_path,
    latest_version,
    txn_create,
    txn_merge,
    txn_read,
    txn_vacuum,
)


def _rows(df):
    return {(r.k, r.v) for r in df.collect()}


def test_create_read_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    assert txn_create(spark, t, df, stat_col="k") == 0
    assert latest_version(t) == 0
    assert _rows(txn_read(spark, t)) == {(i, 2 * i) for i in range(100)}


def test_merge_updates_inserts_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    upd = spark.createDataFrame(
        [(5, -1), (50, -1), (200, -1)], ["k", "v"]
    )
    assert txn_merge(spark, t, upd, key_cols=["k"]) == 1
    got = _rows(txn_read(spark, t))
    want = {(i, 2 * i) for i in range(100) if i not in (5, 50)} | {
        (5, -1),
        (50, -1),
        (200, -1),
    }
    assert got == want
    # time travel: version 0 still shows the pre-merge snapshot
    assert _rows(txn_read(spark, t, version=0)) == {(i, 2 * i) for i in range(100)}


def test_merge_prunes_untouched_files(spark, tmp_path):
    """Files whose key range can't contain an update key are carried
    into the new manifest verbatim — no rewrite, no read."""
    t = str(tmp_path / "t")
    low = spark.createDataFrame([(i, i) for i in range(10)], ["k", "v"]).repartition(1)
    txn_create(spark, t, low, stat_col="k")
    high = spark.createDataFrame([(i, i) for i in range(1000, 1010)], ["k", "v"]).repartition(1)
    txn_merge(spark, t, high, key_cols=["k"])  # pure insert, new file
    m1 = json.load(open(_log_path(t, 1)))
    assert m1["rewrote"] == []
    files_v1 = {e["path"] for e in m1["files"]}

    # update a high key only: the low file must carry over untouched
    upd = spark.createDataFrame([(1005, -5)], ["k", "v"])
    txn_merge(spark, t, upd, key_cols=["k"])
    m2 = json.load(open(_log_path(t, 2)))
    low_files = {e["path"] for e in m1["files"] if e["hi"] < 1000}
    assert low_files and low_files <= {e["path"] for e in m2["files"]}
    assert all(p not in m2["rewrote"] for p in low_files)
    # and the rewritten file is the high one
    assert m2["rewrote"] and all(p in files_v1 for p in m2["rewrote"])
    got = _rows(txn_read(spark, t))
    assert (1005, -5) in got and (1005, 1005) not in got
    assert all((i, i) in got for i in range(10))


def test_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing to the same version: the second commit must
    fail atomically (put-if-absent), and the loser's merge must NOT
    have corrupted the winner's manifest chain."""
    from big_data_processing_spark.sources.txnlog import _commit

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 1)], ["k", "v"])
    txn_create(spark, t, df, stat_col="k")
    schema = df.schema.json()
    # writer A commits version 1
    _commit(t, 1, {"version": 1, "op": "merge", "files": [], "schema": schema})
    # writer B, which had also read version 0, tries to commit its own v1
    with pytest.raises(TxnConflict):
        _commit(t, 1, {"version": 1, "op": "merge", "files": [], "schema": schema})
    # winner's manifest intact, no stray tmp files in the log dir
    assert json.load(open(_log_path(t, 1)))["version"] == 1
    logdir = os.path.dirname(_log_path(t, 1))
    assert all(f.endswith(".json") for f in os.listdir(logdir))


def test_vacuum_keeps_referenced_files(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(20).select(F.col("id").alias("k"), F.col("id").alias("v"))
    txn_create(spark, t, df, stat_col="k")
    for i in range(3):
        txn_merge(
            spark, t, spark.createDataFrame([(5, -i)], ["k", "v"]), ["k"]
        )
    before = _rows(txn_read(spark, t))
    removed = txn_vacuum(t, keep_versions=2)
    assert removed  # old rewritten files went away
    assert _rows(txn_read(spark, t)) == before
    assert _rows(txn_read(spark, t, version=latest_version(t) - 1))  # retained
    with pytest.raises(FileNotFoundError):
        txn_read(spark, t, version=0)  # beyond retention: manifest gone


def test_merge_composite_key(spark, tmp_path):
    t = str(tmp_path / "t2")
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30)], ["k", "k2", "x"]
    )
    txn_create(spark, t, df, stat_col="k")
    upd = spark.createDataFrame([(1, "b", -1), (3, "c", 99)], ["k", "k2", "x"])
    txn_merge(spark, t, upd, key_cols=["k", "k2"])
    got = {(r.k, r.k2, r.x) for r in txn_read(spark, t).collect()}
    assert got == {(1, "a", 10), (1, "b", -1), (2, "a", 30), (3, "c", 99)}


def test_txn_merge_property_random(spark, tmp_path):
    """Randomized merge sequences must match plain dict upsert
    semantics, and every historical version must remain readable with
    its exact pre-merge content (snapshot immutability)."""
    import random

    rng = random.Random(17)
    t = str(tmp_path / "prop")
    state = {k: rng.randint(0, 99) for k in range(0, 40, 2)}
    txn_create(
        spark,
        t,
        spark.createDataFrame(sorted(state.items()), ["k", "v"]),
        stat_col="k",
    )
    history = [dict(state)]
    for _ in range(4):
        upd = {
            rng.randint(0, 60): rng.randint(100, 199)
            for _ in range(rng.randint(1, 8))
        }
        txn_merge(
            spark,
            t,
            spark.createDataFrame(sorted(upd.items()), ["k", "v"]),
            ["k"],
        )
        state.update(upd)
        history.append(dict(state))
    for v, want in enumerate(history):
        got = {r.k: r.v for r in txn_read(spark, t, version=v).collect()}
        assert got == want, f"version {v}"


def test_txnlog_as_streaming_merge_sink(spark, tmp_path):
    """txn_merge as a foreachBatch sink: each micro-batch MERGEs into
    the transaction-log table — the exactly-once-content upsert sink
    pattern (a replayed batch rewrites identical rows; content is
    idempotent even though it burns a version number)."""
    import json
    import os

    src = tmp_path / "stream_src"
    os.makedirs(src)
    t = str(tmp_path / "sink")
    base = spark.createDataFrame([(k, 0) for k in range(10)], ["k", "v"])
    txn_create(spark, t, base, stat_col="k")

    with open(src / "b1.json", "w") as f:
        for k, v in [(1, 11), (2, 12), (100, 100)]:
            f.write(json.dumps({"k": k, "v": v}) + "\n")

    stream = spark.readStream.schema("k long, v long").json(str(src))

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        txn_merge(spark, t, batch_df, key_cols=["k"])

    q = (
        stream.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src / "b2.json", "w") as f:
            f.write(json.dumps({"k": 1, "v": 21}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.k: r.v for r in txn_read(spark, t).collect()}
    want = {k: 0 for k in range(10)}
    want.update({1: 21, 2: 12, 100: 100})
    assert got == want


def _live_files(t):
    from big_data_processing_spark.sources.txnlog import _read_manifest

    return _read_manifest(t, latest_version(t))["files"]


def test_optimize_compacts_and_preserves_snapshots(spark, tmp_path):
    """OPTIMIZE must shrink the live file count without changing any
    snapshot: the post-compaction read is identical, every pre-compaction
    version still time-travels to its exact content, and a later MERGE
    keeps working on the compacted layout."""
    from big_data_processing_spark.sources.txnlog import txn_optimize

    t = str(tmp_path / "opt")
    txn_create(
        spark,
        t,
        spark.createDataFrame([(k, 0) for k in range(10)], ["k", "v"]),
        stat_col="k",
    )
    # fragment: 5 pure-insert merges -> at least 6 live files
    for i in range(1, 6):
        ins = spark.createDataFrame(
            [(100 * i + j, i) for j in range(10)], ["k", "v"]
        )
        txn_merge(spark, t, ins, key_cols=["k"])
    before_files = len(_live_files(t))
    before_rows = _rows(txn_read(spark, t))
    pre_v = latest_version(t)

    v = txn_optimize(spark, t, target_rows=1000)
    assert v == pre_v + 1
    after_files = len(_live_files(t))
    assert after_files < before_files
    assert after_files == 1  # everything fits one bin at target 1000
    assert _rows(txn_read(spark, t)) == before_rows
    # time travel across the compaction boundary
    assert _rows(txn_read(spark, t, version=pre_v)) == before_rows
    assert _rows(txn_read(spark, t, version=0)) == {(k, 0) for k in range(10)}
    # MERGE after OPTIMIZE
    txn_merge(
        spark, t, spark.createDataFrame([(0, 99), (999, 9)], ["k", "v"]), ["k"]
    )
    got = _rows(txn_read(spark, t))
    assert (0, 99) in got and (999, 9) in got and (0, 0) not in got
    assert len(got) == len(before_rows) + 1


def test_optimize_noop_when_compact(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import txn_optimize

    t = str(tmp_path / "noop")
    txn_create(
        spark,
        t,
        spark.createDataFrame([(k, 0) for k in range(10)], ["k", "v"]).coalesce(1),
        stat_col="k",
    )
    v = latest_version(t)
    # single file below target: a 1->1 rewrite would be pure write
    # amplification — must be a no-op
    assert txn_optimize(spark, t, target_rows=1000) is None
    assert latest_version(t) == v
    # files already at/above target are left alone too
    assert txn_optimize(spark, t, target_rows=5) is None
    assert latest_version(t) == v


def test_optimize_respects_target_and_big_files(spark, tmp_path):
    """Files >= target stay untouched; small ones pack to <= target
    rows per bin."""
    from big_data_processing_spark.sources.txnlog import txn_optimize

    t = str(tmp_path / "bins")
    txn_create(
        spark,
        t,
        spark.createDataFrame([(k, 0) for k in range(50)], ["k", "v"]).coalesce(1),
        stat_col="k",
    )
    for i in range(4):
        ins = spark.createDataFrame(
            [(1000 * (i + 1) + j, i) for j in range(10)], ["k", "v"]
        ).coalesce(1)
        txn_merge(spark, t, ins, key_cols=["k"])
    before_rows = _rows(txn_read(spark, t))
    assert txn_optimize(spark, t, target_rows=25) is not None
    files = _live_files(t)
    # the 50-row file survived verbatim; the 4x10-row files packed into
    # bins of <= 25 rows (2 bins of 20)
    assert sorted(e["rows"] for e in files) == [20, 20, 50]
    assert _rows(txn_read(spark, t)) == before_rows


def test_merge_stat_col_not_in_keys_no_stale_rows(spark, tmp_path):
    """ADVICE regression: when stat_col is NOT a merge key, an update
    that moves a row's stat value outside the updates' stat range must
    still rewrite the file holding the matched key (range pruning is
    skipped) — r3's prune left the stale row alive as a duplicate."""
    t = str(tmp_path / "statmove")
    # stat col v; keys k. File A holds k=1 with v=1000 (stat range
    # [1000, 1009]); the update sets k=1 to v=5 (update stat range
    # [5, 5]) — disjoint from A's, so a stat-range prune would carry A
    # untouched and duplicate k=1.
    txn_create(
        spark,
        t,
        spark.createDataFrame([(k, 1000 + k) for k in range(10)], ["k", "v"]),
        stat_col="v",
    )
    txn_merge(spark, t, spark.createDataFrame([(1, 5)], ["k", "v"]), ["k"])
    got = sorted((r.k, r.v) for r in txn_read(spark, t).collect())
    assert got.count((1, 5)) == 1
    assert all(not (k == 1 and v != 5) for k, v in got)
    assert len(got) == 10


def test_create_rejects_non_json_native_stat_col(spark, tmp_path):
    import datetime

    t = str(tmp_path / "badstat")
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1))], ["k", "d"]
    )
    with pytest.raises(TypeError, match="JSON manifest"):
        txn_create(spark, t, df, stat_col="d")
    # nothing half-created
    assert latest_version(t) == -1


def test_optimize_random_history_property(spark, tmp_path):
    """Randomized interleaving of MERGE and OPTIMIZE must match dict
    upsert semantics at every version, with OPTIMIZE versions content-
    equal to their predecessors."""
    import random

    from big_data_processing_spark.sources.txnlog import txn_optimize

    rng = random.Random(23)
    t = str(tmp_path / "prop_opt")
    state = {k: rng.randint(0, 99) for k in range(0, 30, 3)}
    txn_create(
        spark,
        t,
        spark.createDataFrame(sorted(state.items()), ["k", "v"]),
        stat_col="k",
    )
    history = [dict(state)]
    for step in range(6):
        if step % 3 == 2:
            v = txn_optimize(spark, t, target_rows=500)
            if v is not None:
                history.append(dict(state))  # content unchanged
            continue
        upd = {
            rng.randint(0, 50): rng.randint(100, 199)
            for _ in range(rng.randint(1, 6))
        }
        txn_merge(
            spark,
            t,
            spark.createDataFrame(sorted(upd.items()), ["k", "v"]),
            ["k"],
        )
        state.update(upd)
        history.append(dict(state))
    assert latest_version(t) == len(history) - 1
    for v, want in enumerate(history):
        got = {r.k: r.v for r in txn_read(spark, t, version=v).collect()}
        assert got == want, f"version {v}"


def test_optimize_cluster_restores_pruning(spark, tmp_path):
    """cluster=True range-clusters the compacted rows on the stat
    column: fragmented files that each spanned the WHOLE key range
    (worthless min/max pruning) become files with disjoint stat ranges,
    and a narrow-range MERGE afterwards rewrites only the one file
    holding its keys."""
    import json as _json

    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        txn_optimize,
    )

    t = str(tmp_path / "clust")
    # every insert spans the full key range -> every file's [lo, hi]
    # covers everything, pruning can't drop any file
    txn_create(
        spark,
        t,
        spark.createDataFrame([(k, 0) for k in range(0, 400, 4)], ["k", "v"]),
        stat_col="k",
    )
    for i in (1, 2, 3):
        ins = spark.createDataFrame(
            [(k, i) for k in range(i, 400, 4)], ["k", "v"]
        )
        txn_merge(spark, t, ins, key_cols=["k"])
    before_rows = _rows(txn_read(spark, t))

    # target 101, not 100: _write_rewrite makes each insert-merge
    # land as ONE 100-row file, and a file at exactly target_rows is
    # correctly "big enough to keep" — the fixture's full-range-
    # spanning files must count as small for the cluster pass to
    # rewrite them all (the clustering behavior under test is
    # unchanged; only the fixture's file sizes moved).
    v = txn_optimize(spark, t, target_rows=101, cluster=True)
    assert v is not None
    m = _read_manifest(t, v)
    assert m.get("clustered") is True
    files = sorted(m["files"], key=lambda e: e["lo"])
    assert len(files) == 4  # ceil(400 rows / 101 target)
    for a, b in zip(files, files[1:]):
        assert a["hi"] < b["lo"], "clustered file ranges must be disjoint"
    assert _rows(txn_read(spark, t)) == before_rows

    # narrow-range MERGE now rewrites exactly one file
    upd = spark.createDataFrame([(5, 99), (7, 99)], ["k", "v"])
    mv = txn_merge(spark, t, upd, key_cols=["k"])
    rewrote = _read_manifest(t, mv)["rewrote"]
    assert len(rewrote) == 1
    got = _rows(txn_read(spark, t))
    assert (5, 99) in got and (7, 99) in got and len(got) == len(before_rows)


def test_delete_removes_keys_and_prunes_files(spark, tmp_path):
    """txn_delete drops exactly the matched keys, rewrites only the
    files holding them, keeps time travel intact, and deleting a
    missing key is a carried no-op commit."""
    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        txn_delete,
    )

    t = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df.repartitionByRange(4, "k"), stat_col="k")
    v = txn_delete(
        spark, t, spark.createDataFrame([(5,), (7,)], ["k"]), ["k"]
    )
    m = _read_manifest(t, v)
    assert len(m["rewrote"]) == 1  # both keys live in one range file
    got = _rows(txn_read(spark, t))
    assert {(5, 10), (7, 14)}.isdisjoint(got) and len(got) == 98
    assert len(_rows(txn_read(spark, t, version=0))) == 100
    v2 = txn_delete(
        spark, t, spark.createDataFrame([(5000,), (-3,)], ["k"]), ["k"]
    )
    assert _read_manifest(t, v2)["rewrote"] == []
    assert len(_rows(txn_read(spark, t))) == 98


def test_change_feed_classifies_and_cancels_moves(spark, tmp_path):
    """txn_changes classifies insert/delete/update from endpoint
    manifests, an adjacent pure compaction yields an EMPTY feed, and
    rows that only moved files never surface."""
    from big_data_processing_spark.sources.txnlog import (
        txn_changes,
        txn_delete,
        txn_optimize,
    )

    t = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df.repartitionByRange(4, "k"), stat_col="k")
    txn_merge(
        spark,
        t,
        spark.createDataFrame([(5, 99), (60, 120)], ["k", "v"]),  # update + insert
        key_cols=["k"],
    )
    del_v = txn_delete(spark, t, spark.createDataFrame([(9,)], ["k"]), ["k"])
    opt_v = txn_optimize(spark, t)
    assert opt_v is not None
    assert txn_changes(spark, t, ["k"], del_v, opt_v).count() == 0
    feed = {
        (r._change_type, r.k, r.v)
        for r in txn_changes(spark, t, ["k"], 0, opt_v).collect()
    }
    assert feed == {
        ("update_preimage", 5, 10),
        ("update_postimage", 5, 99),
        ("insert", 60, 120),
        ("delete", 9, 18),
    }


def test_change_feed_update_then_delete_is_delete(spark, tmp_path):
    """A key updated in one commit and deleted in a later one shows as
    a single delete carrying the FROM-version preimage in the endpoint
    feed."""
    from big_data_processing_spark.sources.txnlog import txn_changes, txn_delete

    t = str(tmp_path / "t")
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    txn_merge(spark, t, spark.createDataFrame([(3, 77)], ["k", "v"]), ["k"])
    end_v = txn_delete(spark, t, spark.createDataFrame([(3,)], ["k"]), ["k"])
    feed = [
        (r._change_type, r.k, r.v)
        for r in txn_changes(spark, t, ["k"], 0, end_v).collect()
    ]
    assert feed == [("delete", 3, 6)]


# ------------------------------------------------------------ schema evolution


def test_schema_evolution_add_column_no_rewrite(spark, tmp_path):
    """schema_mode='merge': a new column appears table-wide without
    rewriting carried files — old files' rows read NULL for it, the
    merge's own rows carry real values, and time travel to the
    pre-evolution version still shows the old schema."""
    t = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df.repartitionByRange(4, "k"), stat_col="k")
    upd = spark.createDataFrame(
        [(5, -1, "x"), (200, -2, "y")], "k long, v long, tag string"
    )
    v1 = txn_merge(spark, t, upd, key_cols=["k"], schema_mode="merge")
    cur = txn_read(spark, t)
    assert cur.columns == ["k", "v", "tag"]
    got = {(r.k, r.v, r.tag) for r in cur.collect()}
    assert (5, -1, "x") in got and (200, -2, "y") in got
    # untouched keys read NULL for the evolved column
    assert (7, 14, None) in got
    assert len(got) == 101
    # time travel: pre-evolution snapshot has the old schema
    old = txn_read(spark, t, version=v1 - 1)
    assert old.columns == ["k", "v"]
    assert len(old.collect()) == 100


def test_schema_evolution_rejects_type_change_and_drops(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    retyped = spark.createDataFrame([(1, "s")], "k long, v string")
    with pytest.raises(TypeError, match="cannot change column"):
        txn_merge(spark, t, retyped, key_cols=["k"], schema_mode="merge")
    dropped = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="missing table columns"):
        txn_merge(spark, t, dropped, key_cols=["k"], schema_mode="merge")


def test_schema_evolution_then_merge_and_optimize(spark, tmp_path):
    """Post-evolution strict merges and OPTIMIZE both operate under the
    evolved schema; compaction materializes the NULLs physically and
    preserves every value."""
    from big_data_processing_spark.sources.txnlog import txn_optimize

    t = str(tmp_path / "t")
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df.repartitionByRange(3, "k"), stat_col="k")
    txn_merge(
        spark,
        t,
        spark.createDataFrame([(3, -3, "t3")], "k long, v long, tag string"),
        key_cols=["k"],
        schema_mode="merge",
    )
    # strict merge AFTER evolution must supply the evolved columns
    txn_merge(
        spark,
        t,
        spark.createDataFrame([(4, -4, "t4")], "k long, v long, tag string"),
        key_cols=["k"],
    )
    before = {(r.k, r.v, r.tag) for r in txn_read(spark, t).collect()}
    txn_optimize(spark, t, target_rows=10_000_000)
    after = {(r.k, r.v, r.tag) for r in txn_read(spark, t).collect()}
    assert before == after
    assert (3, -3, "t3") in after and (4, -4, "t4") in after and (5, 10, None) in after


def test_change_feed_across_schema_evolution(spark, tmp_path):
    """CDF between a pre-evolution and post-evolution version compares
    the COMMON (from-version) schema; the evolved column is invisible
    to the feed, and value changes still surface exactly."""
    from big_data_processing_spark.sources.txnlog import txn_changes

    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    txn_merge(
        spark,
        t,
        spark.createDataFrame([(3, -3, "x"), (100, 1, "y")], "k long, v long, tag string"),
        key_cols=["k"],
        schema_mode="merge",
    )
    feed = txn_changes(spark, t, key_cols=["k"], from_version=0)
    got = {(r.k, r.v, r._change_type) for r in feed.collect()}
    assert (3, 6, "update_preimage") in got
    assert (3, -3, "update_postimage") in got
    assert (100, 1, "insert") in got
    assert "tag" not in feed.columns


# ------------------------------------------------------------ write-audit-publish


def test_wap_stage_audit_publish(spark, tmp_path):
    """WAP happy path: stage a merge (invisible to readers), audit the
    staged snapshot, publish atomically — result identical to a direct
    merge."""
    from big_data_processing_spark.sources.txnlog import (
        txn_publish,
        txn_read_staged,
        txn_stage_merge,
    )

    t = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    upd = spark.createDataFrame([(5, -5), (100, 1)], ["k", "v"])
    token = txn_stage_merge(spark, t, upd, key_cols=["k"])
    # invisible: latest read unchanged while staged
    assert latest_version(t) == 0
    assert (5, 10) in _rows(txn_read(spark, t))
    # audit view shows the would-be result
    staged = _rows(txn_read_staged(spark, t, token))
    assert (5, -5) in staged and (100, 1) in staged and len(staged) == 51
    v = txn_publish(t, token)
    assert v == 1 and _rows(txn_read(spark, t)) == staged


def test_wap_abort_discards_files_and_state(spark, tmp_path):
    """Failed audit: abort removes every staged-only data file, leaves
    all committed files, and the table keeps serving the old snapshot."""
    from big_data_processing_spark.sources.txnlog import (
        txn_abort,
        txn_stage_merge,
    )

    t = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    bad = spark.createDataFrame([(5, None)], "k long, v long")  # audit would fail
    token = txn_stage_merge(spark, t, bad, key_cols=["k"])
    removed = txn_abort(t, token)
    assert removed  # the staged rewrite files are gone
    assert _rows(txn_read(spark, t)) == {(i, 2 * i) for i in range(50)}
    # every manifest-referenced file still exists
    from big_data_processing_spark.sources.txnlog import _read_manifest

    for e in _read_manifest(t, 0)["files"]:
        assert os.path.exists(os.path.join(t, e["path"]))


def test_wap_publish_conflicts_with_concurrent_commit(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import (
        txn_stage_merge,
        txn_publish,
    )

    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    token = txn_stage_merge(
        spark, t, spark.createDataFrame([(1, -1)], ["k", "v"]), key_cols=["k"]
    )
    txn_merge(spark, t, spark.createDataFrame([(2, -2)], ["k", "v"]), key_cols=["k"])
    with pytest.raises(TxnConflict, match="re-stage"):
        txn_publish(t, token)


def test_vacuum_preserves_staged_files(spark, tmp_path):
    """Vacuum during a pending audit must not delete the staged files."""
    from big_data_processing_spark.sources.txnlog import (
        txn_publish,
        txn_stage_merge,
    )

    t = str(tmp_path / "t")
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    token = txn_stage_merge(
        spark, t, spark.createDataFrame([(3, -3)], ["k", "v"]), key_cols=["k"]
    )
    assert txn_vacuum(t, keep_versions=1) == []
    v = txn_publish(t, token)  # staged files intact → publish still works
    got = _rows(txn_read(spark, t, version=v))
    assert (3, -3) in got and len(got) == 20


def test_txn_merge_idempotent_on_txn_id(spark, tmp_path):
    """A merge replayed with the same txn_id is a no-op returning the
    original version — the exactly-once sink contract for foreachBatch
    re-delivery (keyed on batch_id), in version history as well as
    content."""
    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    upd = spark.createDataFrame([(1, -1)], ["k", "v"])
    v1 = txn_merge(spark, t, upd, key_cols=["k"], txn_id="batch-7")
    v_replay = txn_merge(spark, t, upd, key_cols=["k"], txn_id="batch-7")
    assert v1 == v_replay == 1
    assert latest_version(t) == 1  # no burned version
    v2 = txn_merge(
        spark, t, spark.createDataFrame([(2, -2)], ["k", "v"]), ["k"], txn_id="batch-8"
    )
    assert v2 == 2
    got = _rows(txn_read(spark, t))
    assert (1, -1) in got and (2, -2) in got and len(got) == 10


def test_txnlog_streaming_sink_exactly_once_versions(spark, tmp_path):
    """foreachBatch sink keyed on batch_id: reprocessing after a
    checkpoint-less restart re-delivers batch 0, and the txn_id guard
    turns the replay into a no-op instead of a burned version."""
    import json as _json

    src = tmp_path / "src"
    os.makedirs(src)
    t = str(tmp_path / "sink")
    txn_create(
        spark,
        t,
        spark.createDataFrame([(k, 0) for k in range(5)], ["k", "v"]),
        stat_col="k",
    )
    with open(src / "b1.json", "w") as f:
        f.write(_json.dumps({"k": 1, "v": 11}) + "\n")

    def run(ck):
        stream = spark.readStream.schema("k long, v long").json(str(src))

        def sink(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            txn_merge(spark, t, batch_df, ["k"], txn_id=f"q1-{batch_id}")

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ck_a")
    assert latest_version(t) == 1
    run("ck_b")  # fresh checkpoint: batch 0 re-delivered, must be a no-op
    assert latest_version(t) == 1
    assert (1, 11) in _rows(txn_read(spark, t))


def test_history_and_file_stats_views(spark, tmp_path):
    """DESCRIBE HISTORY / DETAIL views reflect the commit log: ops in
    order, txn_id surfaced, rewrite counts, per-file pruning stats."""
    from big_data_processing_spark.sources.txnlog import (
        txn_file_stats,
        txn_history,
        txn_optimize,
    )

    t = str(tmp_path / "t")
    df = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df.repartitionByRange(3, "k"), stat_col="k")
    txn_merge(
        spark, t, spark.createDataFrame([(1, -1)], ["k", "v"]), ["k"], txn_id="b0"
    )
    txn_optimize(spark, t, target_rows=10_000_000)
    h = {r.version: r for r in txn_history(spark, t).collect()}
    assert [h[v].op for v in sorted(h)] == ["create", "merge", "optimize"]
    assert h[1].txn_id == "b0" and h[1].n_rewritten >= 1
    assert h[2].n_files == 1 and h[2].n_rows == 40
    fs = txn_file_stats(spark, t).collect()
    assert len(fs) == 1 and fs[0].n_rows == 40 and fs[0].stat_col == "k"
    assert int(fs[0].lo) == 0 and int(fs[0].hi) == 39
    # time-travel detail: the fragmented v0 shows 3 files with disjoint ranges
    fs0 = sorted(
        (int(r.lo), int(r.hi)) for r in txn_file_stats(spark, t, version=0).collect()
    )
    assert len(fs0) == 3 and all(a[1] < b[0] for a, b in zip(fs0, fs0[1:]))


def test_restore_rolls_back_as_new_version(spark, tmp_path):
    """RESTORE commits an old snapshot's file list as a new version:
    the bad merge stays in history (time travel still sees it), the
    current read equals the restored snapshot, and restored files are
    protected from vacuum by being referenced again."""
    from big_data_processing_spark.sources.txnlog import txn_restore

    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")
    txn_merge(spark, t, spark.createDataFrame([(1, -999)], ["k", "v"]), ["k"])
    assert (1, -999) in _rows(txn_read(spark, t))
    v = txn_restore(t, 0)
    assert v == 2 and latest_version(t) == 2
    assert _rows(txn_read(spark, t)) == {(i, 2 * i) for i in range(10)}
    # the bad version remains time-travelable
    assert (1, -999) in _rows(txn_read(spark, t, version=1))
    # vacuum keeping only the latest must preserve the restored files
    removed = txn_vacuum(t, keep_versions=1)
    assert _rows(txn_read(spark, t)) == {(i, 2 * i) for i in range(10)}
    with pytest.raises(ValueError):
        txn_restore(t, 99)
    _ = removed


def test_merge_broadcast_gate_large_key_set(spark, tmp_path, monkeypatch):
    """Above the key-count cap the file-hit discovery join must drop
    its broadcast hint (a 10^8-key mega-merge would OOM the driver) —
    and the MERGE result must be identical either way (judge r5 #3)."""
    from big_data_processing_spark.sources import txnlog as tl

    t = str(tmp_path / "t")
    df = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, t, df, stat_col="k")

    # the gate itself: under the cap → broadcast hint; over → bare plan
    keys = spark.range(10).select(F.col("id").alias("k"))
    monkeypatch.setattr(tl, "_MERGE_BROADCAST_KEY_CAP", 100)
    hinted = tl._hinted_keys(keys)._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" in hinted or "UnresolvedHint" in hinted
    monkeypatch.setattr(tl, "_MERGE_BROADCAST_KEY_CAP", 4)
    bare = tl._hinted_keys(keys)._jdf.queryExecution().logical().toString()
    assert "Hint" not in bare

    # an "adversarially large" batch (larger than the patched cap):
    # merge runs the shuffle-join path and the table still converges to
    # the exact same state as the broadcast regime produces
    upd = spark.createDataFrame(
        [(k, -k) for k in range(0, 200, 2)] + [(500, -500)], ["k", "v"]
    )
    txn_merge(spark, t, upd, key_cols=["k"])
    got = _rows(txn_read(spark, t))
    want = (
        {(i, 2 * i) for i in range(1, 200, 2)}
        | {(k, -k) for k in range(0, 200, 2)}
        | {(500, -500)}
    )
    assert got == want


def test_txn_restore_merge_delete_property_random(spark, tmp_path):
    """Randomized MERGE / DELETE / RESTORE interleavings must match a
    plain dict model at EVERY version, including versions created by
    RESTORE (whose content is the restored-to snapshot) — and history
    stays append-only: earlier versions keep their exact content after
    any restore."""
    import random

    from big_data_processing_spark.sources.txnlog import txn_delete, txn_restore

    rng = random.Random(23)
    t = str(tmp_path / "prop_restore")
    state = {k: rng.randint(0, 99) for k in range(0, 30, 2)}
    txn_create(
        spark,
        t,
        spark.createDataFrame(sorted(state.items()), ["k", "v"]),
        stat_col="k",
    )
    history = [dict(state)]
    for _ in range(7):
        op = rng.choice(["merge", "delete", "restore"])
        if op == "merge":
            upd = {
                rng.randint(0, 40): rng.randint(100, 199)
                for _ in range(rng.randint(1, 6))
            }
            txn_merge(
                spark,
                t,
                spark.createDataFrame(sorted(upd.items()), ["k", "v"]),
                ["k"],
            )
            state.update(upd)
        elif op == "delete":
            keys = [k for k in state if rng.random() < 0.3] or [
                rng.choice(sorted(state))
            ]
            txn_delete(
                spark,
                t,
                spark.createDataFrame([(k,) for k in sorted(keys)], "k long"),
                ["k"],
            )
            for k in keys:
                state.pop(k, None)
        else:
            target = rng.randrange(len(history))
            txn_restore(t, target)
            state = dict(history[target])
        history.append(dict(state))
    for v, want in enumerate(history):
        got = {r.k: r.v for r in txn_read(spark, t, version=v).collect()}
        assert got == want, f"version {v}"


def test_zorder_key_matches_morton_model(spark):
    """The zorder_key expression must equal the textbook Morton
    interleave on a grid whose normalization is the identity (values
    0..2^bits-1 with exact span)."""
    from big_data_processing_spark.operators.zorder import zorder_key

    pts = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", zorder_key(df, ["x", "y"], bits=2)).collect()
    }
    for x, y in pts:
        want = 0
        for b in range(2):
            want |= ((x >> b) & 1) << (2 * b + 1)
            want |= ((y >> b) & 1) << (2 * b)
        assert got[(x, y)] == want, (x, y)


def test_optimize_zorder_restores_multicolumn_pruning(spark, tmp_path):
    """OPTIMIZE ZORDER (cluster_cols): before clustering, every small
    file spans the full (x, y) range so a box predicate can skip
    nothing; after the Morton rewrite each file has a small bounding
    box in BOTH columns and txn_scan_plan prunes the box query to a
    strict minority of files — with txn_read_where returning exactly
    the rows a full-scan filter returns, before and after."""
    import random

    from big_data_processing_spark.sources.txnlog import (
        txn_optimize,
        txn_read_where,
        txn_scan_plan,
    )

    rng = random.Random(7)
    rows = [
        (i, rng.randint(0, 999), rng.randint(0, 999)) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "k long, x long, y long").repartition(8)
    t = str(tmp_path / "zt")
    txn_create(spark, t, df, stat_col="k")

    box = {"x": (0, 249), "y": (0, 249)}
    want = {(k, x, y) for k, x, y in rows if x <= 249 and y <= 249}
    sel0, tot0 = txn_scan_plan(t, box)
    assert len(sel0) == tot0  # random layout: nothing skippable
    got0 = {(r.k, r.x, r.y) for r in txn_read_where(spark, t, box).collect()}
    assert got0 == want  # conservative pruning is still row-exact

    v = txn_optimize(spark, t, target_rows=600, cluster_cols=["x", "y"])
    assert v == 1
    sel1, tot1 = txn_scan_plan(t, box)
    assert tot1 >= 4
    assert len(sel1) < tot1 / 2, (len(sel1), tot1)  # real skipping now
    got1 = {(r.k, r.x, r.y) for r in txn_read_where(spark, t, box).collect()}
    assert got1 == want
    # content identical pre/post optimize; time travel intact
    assert {(r.k, r.x, r.y) for r in txn_read(spark, t).collect()} == set(rows)
    assert {(r.k, r.x, r.y) for r in txn_read(spark, t, version=0).collect()} == set(
        rows
    )


def test_optimize_zorder_rejects_bad_cluster_cols(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import txn_optimize

    df = spark.createDataFrame(
        [(1, 2.5, "a")], "k long, x double, s string"
    ).repartition(2)
    t = str(tmp_path / "zbad")
    txn_create(spark, t, df, stat_col="k")
    with pytest.raises(ValueError, match="not in table schema"):
        txn_optimize(spark, t, target_rows=10, cluster_cols=["x", "nope"])


def test_zorder_pruned_read_exact_random_boxes(spark, tmp_path):
    """Property: for ANY box predicate, txn_read_where after a Z-order
    OPTIMIZE returns exactly the full-scan filter result — pruning is
    an optimization, never a filter."""
    import random

    from big_data_processing_spark.sources.txnlog import (
        txn_optimize,
        txn_read_where,
    )

    rng = random.Random(41)
    rows = [(i, rng.randint(0, 499), rng.randint(0, 499)) for i in range(2000)]
    t = str(tmp_path / "zprop")
    txn_create(
        spark,
        t,
        spark.createDataFrame(rows, "k long, x long, y long").repartition(6),
        stat_col="k",
    )
    txn_optimize(spark, t, target_rows=400, cluster_cols=["x", "y"])
    for _ in range(6):
        x0, y0 = rng.randint(0, 450), rng.randint(0, 450)
        x1, y1 = x0 + rng.randint(10, 200), y0 + rng.randint(10, 200)
        box = {"x": (x0, x1), "y": (y0, y1)}
        want = {
            (k, x, y) for k, x, y in rows if x0 <= x <= x1 and y0 <= y <= y1
        }
        got = {
            (r.k, r.x, r.y) for r in txn_read_where(spark, t, box).collect()
        }
        assert got == want, box


def test_zorder_key_three_columns_and_bit_budget(spark):
    """3-column Morton interleave places column i's bit b at position
    b*3 + (2-i); and the bits-per-column x columns product is capped at
    a long's budget."""
    import pytest as _pytest

    from big_data_processing_spark.operators.zorder import zorder_key

    pts = [(x, y, z) for x in range(2) for y in range(2) for z in range(2)]
    df = spark.createDataFrame(pts, "x long, y long, z long")
    got = {
        (r.x, r.y, r.z): r.m
        for r in df.withColumn("m", zorder_key(df, ["x", "y", "z"], bits=1)).collect()
    }
    for x, y, z in pts:
        assert got[(x, y, z)] == (x << 2) | (y << 1) | z, (x, y, z)
    with _pytest.raises(ValueError, match="overflows"):
        zorder_key(df, ["x", "y", "z"], bits=21)
    with _pytest.raises(ValueError, match="2-4 columns"):
        zorder_key(df, ["x"])


def test_read_where_prunes_on_stat_col_without_zorder(spark, tmp_path):
    """txn_read_where also skips on the PRIMARY stat column's existing
    min/max — a range-clustered table prunes stat-col boxes with no
    Z-order pass at all."""
    from big_data_processing_spark.sources.txnlog import (
        txn_read_where,
        txn_scan_plan,
    )

    rows = [(i, i * 10) for i in range(1000)]
    df = (
        spark.createDataFrame(rows, "k long, v long")
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    t = str(tmp_path / "statprune")
    txn_create(spark, t, df, stat_col="k")
    sel, tot = txn_scan_plan(t, {"k": (0, 99)})
    assert tot >= 8 and len(sel) <= 2, (len(sel), tot)
    got = {(r.k, r.v) for r in txn_read_where(spark, t, {"k": (0, 99)}).collect()}
    assert got == {(i, i * 10) for i in range(100)}


def test_clone_snapshot_independence_and_vacuum_isolation(spark, tmp_path):
    """txn_clone: (a) the clone's v0 equals src@version; (b) writes to
    either table never show in the other; (c) vacuum on the SOURCE
    reclaiming the cloned files does not break the clone (hardlink
    inodes survive the source's unlink — the Delta shallow-clone
    caveat this design removes); (d) cloning an old version is a
    point-in-time fork; (e) the clone records provenance."""
    import json

    from big_data_processing_spark.sources.txnlog import (
        txn_clone,
        txn_history,
        _read_manifest,
    )

    src = str(tmp_path / "src")
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    txn_create(spark, src, df, stat_col="k")
    upd = spark.createDataFrame([(1, -1)], "k long, v long")
    txn_merge(spark, src, upd, ["k"])  # src v1

    dst = str(tmp_path / "dst")
    assert txn_clone(src, dst) == 0
    want_v1 = {(i, -1 if i == 1 else 2 * i) for i in range(50)}
    assert _rows(txn_read(spark, dst)) == want_v1

    # independence, both directions
    txn_merge(spark, dst, spark.createDataFrame([(2, -2)], "k long, v long"), ["k"])
    txn_merge(spark, src, spark.createDataFrame([(3, -3)], "k long, v long"), ["k"])
    assert (2, -2) in _rows(txn_read(spark, dst))
    assert (3, -3) not in _rows(txn_read(spark, dst))
    assert (2, -2) not in _rows(txn_read(spark, src))

    # source churns past retention, vacuum reclaims the cloned files
    for i in range(4, 8):
        txn_merge(spark, src, spark.createDataFrame([(i, -i)], "k long, v long"), ["k"])
    txn_vacuum(src, keep_versions=2)
    got = _rows(txn_read(spark, dst))
    assert {(1, -1), (2, -2)} <= got and len(got) == 50

    # point-in-time fork + provenance
    fork = str(tmp_path / "fork_v0")
    txn_clone(src, fork, version=latest_version(src))
    m = _read_manifest(fork, 0)
    assert m["op"] == "clone" and m["cloned_version"] == latest_version(src)
    assert m["cloned_from"].endswith("src")
    h = txn_history(spark, fork).collect()
    assert len(h) == 1 and h[0].op == "clone"  # fresh history


def test_clone_labeled_errors(spark, tmp_path):
    """Clone shares RESTORE's retention contract: vacuumed manifest and
    reclaimed files fail up front with the labeled error; an existing
    destination is refused."""
    from big_data_processing_spark.sources.txnlog import txn_clone

    src = str(tmp_path / "src")
    df = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    txn_create(spark, src, df, stat_col="k")
    for i in range(5):
        txn_merge(
            spark, src, spark.createDataFrame([(i, -i)], "k long, v long"), ["k"]
        )
    txn_vacuum(src, keep_versions=2)

    with pytest.raises(FileNotFoundError, match="vacuumed beyond retention"):
        txn_clone(src, str(tmp_path / "d1"), version=0)
    with pytest.raises(ValueError, match="cannot clone"):
        txn_clone(src, str(tmp_path / "d2"), version=99)
    ok = str(tmp_path / "d3")
    txn_clone(src, ok)
    with pytest.raises(FileExistsError, match="already exists"):
        txn_clone(src, ok)


def test_clone_exdev_falls_back_to_copy_other_oserrors_raise(
    spark, tmp_path, monkeypatch
):
    """Cross-device clone (os.link -> EXDEV) degrades to a real copy;
    any OTHER link failure (collision, permissions) must raise, never
    silently overwrite (code-review r7)."""
    import errno

    from big_data_processing_spark.sources import txnlog as tl
    from big_data_processing_spark.sources.txnlog import txn_clone

    src = str(tmp_path / "src")
    df = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    txn_create(spark, src, df, stat_col="k")

    real_link = tl.os.link

    # fail only DATA-file links: _commit's put-if-absent manifest link
    # must keep working or the failure tests a different code path
    def exdev(a, b, *args, **kw):
        if str(a).endswith(".parquet"):
            raise OSError(errno.EXDEV, "cross-device link")
        return real_link(a, b, *args, **kw)

    monkeypatch.setattr(tl.os, "link", exdev)
    dst = str(tmp_path / "dst")
    txn_clone(src, dst)
    monkeypatch.undo()
    assert _rows(txn_read(spark, dst)) == {(i, i) for i in range(10)}

    def eacces(a, b, *args, **kw):
        if str(a).endswith(".parquet"):
            raise OSError(errno.EACCES, "permission denied")
        return real_link(a, b, *args, **kw)

    monkeypatch.setattr(tl.os, "link", eacces)
    with pytest.raises(OSError, match="permission denied"):
        txn_clone(src, str(tmp_path / "dst2"))


def test_clone_refuses_nonempty_manifestless_destination(spark, tmp_path):
    """A crashed prior clone (data files linked, no manifest yet) or a
    foreign directory must be refused, not adopted (code-review r7)."""
    import os

    from big_data_processing_spark.sources.txnlog import txn_clone

    src = str(tmp_path / "src")
    df = spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v"))
    txn_create(spark, src, df, stat_col="k")

    half = str(tmp_path / "half")
    os.makedirs(os.path.join(half, "data"))
    with open(os.path.join(half, "data", "orphan.parquet"), "w") as f:
        f.write("x")
    with pytest.raises(FileExistsError, match="not empty"):
        txn_clone(src, half)
    # source missing entirely -> labeled source error, not a version error
    with pytest.raises(FileNotFoundError, match="does not exist"):
        txn_clone(str(tmp_path / "nope"), str(tmp_path / "d"))


# ---------------------------------------------------------------------------
# Partitioned tables (r10): manifest partition spec, write routing,
# partition pruning (read + MERGE/DELETE), per-partition OPTIMIZE,
# partition evolution, spec propagation through RESTORE/CLONE.
# ---------------------------------------------------------------------------


def _part_df(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("int").alias("yr"),
        (F.col("id") * 3).alias("v"),
    )


def _make_part_table(spark, tmp_path, name="pt"):
    from big_data_processing_spark.sources.txnlog import txn_create

    t = str(tmp_path / name)
    txn_create(spark, t, _part_df(spark), stat_col="k", partition_by=["yr"])
    return t


def test_partitioned_create_records_spec_and_values(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import _read_manifest

    t = _make_part_table(spark, tmp_path)
    m = _read_manifest(t, 0)
    assert m["partition_by"] == ["yr"]
    assert all(e["partition"]["yr"] in range(5) for e in m["files"])
    got = txn_read(spark, t)
    # partition columns stay physically in the files: the schema-pinned
    # leaf-file read returns them without directory discovery
    assert set(got.columns) == {"k", "yr", "v"}
    assert got.count() == 500
    assert got.filter(F.col("yr").isNull()).count() == 0


def test_partitioned_scan_plan_prunes_exactly(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import (
        txn_read_where,
        txn_scan_plan,
    )

    t = _make_part_table(spark, tmp_path)
    sel, total = txn_scan_plan(t, {"yr": (2, 2)})
    assert 0 < len(sel) < total
    assert all(e["partition"]["yr"] == 2 for e in sel)
    assert txn_read_where(spark, t, {"yr": (2, 2)}).count() == 100


def test_partitioned_merge_rewrites_only_hit_partitions(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import _read_manifest

    t = _make_part_table(spark, tmp_path)
    m0 = _read_manifest(t, 0)
    upd = _part_df(spark).filter(
        F.col("yr").isin(1, 3) & (F.col("k") % 7 == 0)
    ).select("k", "yr", (F.col("v") * 10).alias("v"))
    assert txn_merge(spark, t, upd, key_cols=["k", "yr"]) == 1
    m1 = _read_manifest(t, 1)
    by_path = {e["path"]: e for e in m0["files"]}
    assert m1["rewrote"], "merge matched nothing"
    assert {by_path[p]["partition"]["yr"] for p in m1["rewrote"]} <= {1, 3}
    added = set(m1["added"])
    assert all(
        e["partition"]["yr"] in (1, 3)
        for e in m1["files"]
        if e["path"] in added
    ), "new files must route to the update partitions"
    # values correct (MERGE semantics unchanged by pruning)
    got = txn_read(spark, t)
    assert got.count() == 500
    changed = got.filter(F.col("yr").isin(1, 3) & (F.col("k") % 7 == 0))
    assert changed.filter(F.col("v") != F.col("k") * 30).count() == 0


def test_partition_prune_skipped_when_partition_not_a_key(spark, tmp_path):
    """An update may CHANGE a non-key partition column, moving the row
    across partitions — pruning on it would miss the row's old file.
    The row must land in its new partition and leave the old one."""
    from big_data_processing_spark.sources.txnlog import _read_manifest

    t = _make_part_table(spark, tmp_path)
    # k=7 currently has yr=2; move it to yr=4 with a key-only merge
    upd = spark.createDataFrame([(7, 4, 999)], "k long, yr int, v long")
    txn_merge(spark, t, upd, key_cols=["k"])
    got = txn_read(spark, t)
    assert got.filter(F.col("k") == 7).collect()[0]["yr"] == 4
    assert got.filter((F.col("k") == 7) & (F.col("yr") == 2)).count() == 0
    assert got.count() == 500
    m1 = _read_manifest(t, 1)
    # and the rewritten row's new file is recorded under the NEW value
    added = set(m1["added"])
    new_years = {
        e["partition"]["yr"] for e in m1["files"] if e["path"] in added
    }
    assert 4 in new_years


def test_partitioned_optimize_packs_within_partitions(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        txn_optimize,
    )

    t = _make_part_table(spark, tmp_path)
    v = txn_optimize(spark, t, target_rows=1_000_000)
    assert v == 1, "fragmented partitioned table must compact"
    m = _read_manifest(t, v)
    assert m["partition_by"] == ["yr"]
    # every compacted file still single-valued and recorded
    assert all(e["partition"]["yr"] in range(5) for e in m["files"])
    # per-partition packing: one bin per partition here
    assert len(m["files"]) == 5
    assert txn_read(spark, t).count() == 500


def test_partition_evolution_and_spec_propagation(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        txn_clone,
        txn_restore,
        txn_set_partitioning,
    )

    t = _make_part_table(spark, tmp_path)
    # drop partitioning: metadata-only, new writes unrouted
    v1 = txn_set_partitioning(t, None)
    assert "partition_by" not in _read_manifest(t, v1)
    upd = spark.createDataFrame([(1000, 9, 1)], "k long, yr int, v long")
    v2 = txn_merge(spark, t, upd, key_cols=["k"])
    m2 = _read_manifest(t, v2)
    new2 = [e for e in m2["files"] if e["path"] in set(m2["added"])]
    assert new2 and all("partition" not in e for e in new2)
    # re-partition: OLD files keep (or lack) their recorded values and
    # are conservatively kept by pruning; NEW files record values
    v3 = txn_set_partitioning(t, ["yr"])
    upd2 = spark.createDataFrame([(1001, 9, 2)], "k long, yr int, v long")
    v4 = txn_merge(spark, t, upd2, key_cols=["k", "yr"])
    m4 = _read_manifest(t, v4)
    new4 = [e for e in m4["files"] if e["path"] in set(m4["added"])]
    assert new4 and all(e["partition"]["yr"] == 9 for e in new4)
    from big_data_processing_spark.sources.txnlog import txn_scan_plan

    sel, total = txn_scan_plan(t, {"yr": (9, 9)})
    # pre-evolution files lacking partition values are kept (sound),
    # files recorded under other years are pruned
    assert len(sel) < total
    assert all(
        "partition" not in e or e["partition"]["yr"] == 9 for e in sel
    )
    # RESTORE rolls the spec back with the snapshot
    v5 = txn_restore(t, v1)
    assert "partition_by" not in _read_manifest(t, v5)
    # CLONE carries the current spec
    v6 = txn_set_partitioning(t, ["yr"])
    c = str(tmp_path / "clone")
    txn_clone(t, c)
    assert _read_manifest(c, 0)["partition_by"] == ["yr"]
    assert txn_read(spark, c).count() == txn_read(spark, t).count()


def test_partition_col_type_must_survive_json(spark, tmp_path):
    from big_data_processing_spark.sources.txnlog import txn_create

    df = spark.range(10).select(
        F.col("id").alias("k"), F.current_date().alias("d")
    )
    with pytest.raises(TypeError, match="partition col"):
        txn_create(spark, str(tmp_path / "bad"), df, stat_col="k",
                   partition_by=["d"])
    with pytest.raises(ValueError, match="not in table schema"):
        txn_create(spark, str(tmp_path / "bad2"), df, stat_col="k",
                   partition_by=["nope"])


def test_partitioned_delete_emptying_every_rewritten_row(spark, tmp_path):
    """Found by the r10 fuzz sweep (set_partitioning op): a DELETE that
    matches EVERY row of the rewritten files writes an empty frame —
    under partitionBy that produces no data files at all, and the
    unpinned stats read-back threw UNABLE_TO_INFER_SCHEMA.  The commit
    must land with zero added files instead."""
    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        txn_create,
        txn_delete,
    )

    t = str(tmp_path / "t")
    df = spark.range(10).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("p"),
        F.col("id").alias("v"),
    )
    txn_create(spark, t, df.repartition(1), stat_col="k", partition_by=["p"])
    v = txn_delete(
        spark, t, df.filter(F.col("p") == 1).select("k", "p"), ["k", "p"]
    )
    m = _read_manifest(t, v)
    assert m["added"] == []
    assert txn_read(spark, t).count() == 5
    assert all(e["partition"]["p"] == 0 for e in m["files"])


def test_partition_evolution_cross_spec_files_not_pruned(spark, tmp_path):
    """Files recorded under a PREVIOUS partition spec must be kept by
    MERGE/DELETE partition pruning (r10 review repro): the old code
    looked up the CURRENT spec's column in the file's recorded values,
    got None, and pruned the file — so a merge on k=3 left both the
    old (k=3, v=9) row and the merged (k=3, v=999) row live, a
    duplicate key. A file whose recorded partition dict lacks a
    current partition column says nothing about where its rows live
    and has no basis to be pruned."""
    from big_data_processing_spark.sources.txnlog import (
        txn_create,
        txn_delete,
        txn_set_partitioning,
    )

    t = str(tmp_path / "evo")
    txn_create(
        spark,
        t,
        _part_df(spark, n=20),
        stat_col="k",
        partition_by=["v"],  # first spec: files record {"v": ...}
    )
    txn_set_partitioning(t, ["k"])  # evolve: current spec column differs
    # merge on the NEW spec column: every live file was recorded under
    # the OLD spec, so none may be pruned
    upd = spark.createDataFrame([(3, 0, 999)], "k long, yr int, v long")
    txn_merge(spark, t, upd, key_cols=["k"])
    got = txn_read(spark, t).filter(F.col("k") == 3).collect()
    assert len(got) == 1, f"duplicate key after cross-spec merge: {got}"
    assert got[0]["v"] == 999
    assert txn_read(spark, t).count() == 20
    # and DELETE through the same planner actually deletes
    keys = spark.createDataFrame([(5,)], "k long")
    txn_delete(spark, t, keys, key_cols=["k"])
    assert txn_read(spark, t).filter(F.col("k") == 5).count() == 0
    assert txn_read(spark, t).count() == 19


def test_evolution_entry_certificate_fires_on_buggy_prune(
    spark, sf_dir, monkeypatch
):
    """Certificate liveness for txnlog_partition_evolution: with the
    pre-r10 pruning behavior restored (prune any file whose recorded
    values lack the CURRENT partition column), every pre-evolution file
    is pruned, the merge rewrites nothing, and the entry's in-query
    certificates must RAISE — proving a green driver hash on this
    entry really certifies the conservative-keep rule.  Since r11 the
    n_candidates certificate fires FIRST (the pruned candidate count
    betrays the bug before the empty rewrite set does); either raise
    is the certificate working."""
    import pytest as _pytest

    from big_data_processing_spark.plans.catalog import CATALOG
    from big_data_processing_spark.sources import txnlog as tl

    def buggy(candidates, upd_keys, key_cols, partition_by):
        if not partition_by or not set(partition_by) <= set(key_cols):
            return candidates
        rows = upd_keys.select(*partition_by).distinct().collect()
        live = {tuple(r[c] for c in partition_by) for r in rows}
        return [
            e
            for e in candidates
            if "partition" not in e
            or tuple((e["partition"] or {}).get(c) for c in partition_by)
            in live
        ]

    monkeypatch.setattr(tl, "_partition_prune_candidates", buggy)
    with _pytest.raises(
        RuntimeError, match="conservative keep is dead|rewrote nothing"
    ):
        CATALOG["txnlog_partition_evolution"].fn(spark, sf_dir).collect()


def test_evolution_entry_optimize_certificate_fires_without_pruning(
    spark, sf_dir, monkeypatch
):
    """Certificate liveness for the r11 OPTIMIZE half of
    txnlog_partition_evolution: with partition pruning disabled
    outright (prune = keep everything), the main cross-spec merge still
    passes its conservative-keep certificate (keeping everything IS
    the conservative behavior on an all-old-spec table), but the
    follow-up merge on the OPTIMIZED clone sees a candidate set equal
    to the live file count and the pruning-restored certificate must
    RAISE — proving a green driver hash really certifies that OPTIMIZE
    re-enabled partition pruning."""
    import pytest as _pytest

    from big_data_processing_spark.plans.catalog import CATALOG
    from big_data_processing_spark.sources import txnlog as tl

    monkeypatch.setattr(
        tl,
        "_partition_prune_candidates",
        lambda candidates, upd_keys, key_cols, partition_by: candidates,
    )
    with _pytest.raises(RuntimeError, match="pruning not restored"):
        CATALOG["txnlog_partition_evolution"].fn(spark, sf_dir).collect()


def test_emptied_partitioned_table_keeps_stat_col(spark, tmp_path):
    """The table's stat column lives in the manifest, not in its first
    file: a partitioned DELETE of every row commits ``files: []`` (the
    routed empty write emits no file), and a later MERGE keyed
    ``["dt", "k"]`` must still take its stats on ``k`` — taking them on
    the date key ``dt`` made the commit fail with a non-JSON-native
    min/max."""
    import datetime

    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        txn_delete,
    )

    t = str(tmp_path / "t")
    schema = "k long, yr int, dt date, v long"
    d0 = datetime.date(2020, 1, 1)
    rows = [(k, k % 3, d0, k * 2) for k in range(12)]
    txn_create(
        spark,
        t,
        spark.createDataFrame(rows, schema),
        stat_col="k",
        partition_by=["yr"],
    )
    v = txn_delete(spark, t, spark.range(12).withColumnRenamed("id", "k"), ["k"])
    assert _read_manifest(t, v)["files"] == []

    upd = spark.createDataFrame([(5, 2, d0, 50), (7, 1, d0, 70)], schema)
    v = txn_merge(spark, t, upd, key_cols=["dt", "k"])
    m = _read_manifest(t, v)
    assert m["stat_col"] == "k"
    assert m["files"] and all(e["stat_col"] == "k" for e in m["files"])
    assert {(r.k, r.v) for r in txn_read(spark, t).collect()} == {(5, 50), (7, 70)}


def test_delete_records_partition_pruning_certificate(spark, tmp_path):
    """DELETE plans through MERGE's planner, so its manifest carries the
    same two prune counts: with partition_by ⊆ key_cols, deleting keys
    of ONE partition whose ``k`` range spans the table leaves the stat
    prune with (nearly) every file and the partition prune with only
    that partition's files."""
    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        txn_delete,
    )

    t = _make_part_table(spark, tmp_path)
    m0 = _read_manifest(t, 0)
    keys = _part_df(spark).filter((F.col("yr") == 2) & (F.col("k") % 7 == 0))
    v = txn_delete(spark, t, keys.select("k", "yr"), ["k", "yr"])
    m = _read_manifest(t, v)
    assert m["n_candidates"] < m["n_stat_candidates"]
    by_path = {e["path"]: e for e in m0["files"]}
    assert m["rewrote"]
    assert {by_path[p]["partition"]["yr"] for p in m["rewrote"]} == {2}
    assert txn_read(spark, t).count() == 500 - keys.count()
