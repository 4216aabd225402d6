"""Snapshot table (sources/snapshot.py): atomic manifest commits, time
travel, stats-pruned copy-on-write merge, metadata-only delete,
compaction, vacuum, and the exactly-once batch sink."""

import json
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from plda_spark.sources import snapshot as snap
from plda_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_write_read_roundtrip_and_append(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    evens = docs.where(F.col("doc_id") % 2 == 0)
    odds = docs.where(F.col("doc_id") % 2 == 1)

    v0 = snap.snapshot_write(evens, path, mode="overwrite", stats_cols=["doc_id"])
    assert v0 == 0
    v1 = snap.snapshot_write(odds, path, mode="append")
    assert v1 == 1

    # latest = full table; version 0 = evens only (time travel)
    assert _sorted_rows(snap.snapshot_read(spark, path), "doc_id") == _sorted_rows(
        docs, "doc_id"
    )
    assert _sorted_rows(
        snap.snapshot_read(spark, path, version=0), "doc_id"
    ) == _sorted_rows(evens, "doc_id")

    vs = snap.snapshot_versions(spark, path)
    assert [v["version"] for v in vs] == [0, 1]
    assert vs[1]["rows"] == docs.count()
    # append carried v0's files by reference: v1's file list contains v0's
    m0 = snap._read_manifest(snap._FS(spark, path), path, 0)
    m1 = snap._read_manifest(snap._FS(spark, path), path, 1)
    assert {e["path"] for e in m0["files"]} <= {e["path"] for e in m1["files"]}
    # append inherited the table's stats_cols
    assert m1["stats_cols"] == ["doc_id"]
    assert all(e["stats"].get("doc_id") for e in m1["files"])


def test_empty_table_read_keeps_schema(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs.where(F.lit(False)), path, mode="overwrite")
    back = snap.snapshot_read(spark, path)
    assert back.count() == 0
    assert back.schema == docs.schema


def test_concurrent_publish_single_winner(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir).limit(10)
    snap.snapshot_write(docs, path, mode="overwrite")
    # simulate a racing writer that already published v1
    fs = snap._FS(spark, path)
    fs.write_text(
        f"{snap._manifest_dir(path)}/v{1:010d}.json",
        json.dumps({"version": 1, "parent": 0, "action": "append",
                    "schema": docs.schema.json(), "stats_cols": [],
                    "files": []}),
    )
    with pytest.raises(snap.ConcurrentWriteError):
        # our writer resolved parent=... before the race; force its
        # target version to collide by publishing directly
        snap._publish(fs, path, {"version": 1, "parent": 0, "action": "append",
                                 "schema": docs.schema.json(), "stats_cols": [],
                                 "files": []})


def test_scan_prunes_files_by_manifest_stats(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    # cluster on doc_id so per-file ranges are disjoint -> prunable
    clustered = docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
    snap.snapshot_write(clustered, path, mode="overwrite", stats_cols=["doc_id"])
    n_total = len(snap.snapshot_read(spark, path).inputFiles())
    lo = docs.agg(F.min("doc_id")).collect()[0][0]
    scan = snap.snapshot_scan(spark, path, "doc_id", lo, lo + 5)
    assert len(scan.inputFiles()) < n_total  # manifest-level skip happened
    expected = docs.where(F.col("doc_id").between(lo, lo + 5))
    assert _sorted_rows(scan, "doc_id", "lang") == _sorted_rows(
        expected, "doc_id", "lang"
    )


def test_merge_upserts_and_carries_untouched_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    clustered = docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
    snap.snapshot_write(clustered, path, mode="overwrite", stats_cols=["doc_id"])
    m0 = snap._read_manifest(snap._FS(spark, path), path, 0)

    lo = docs.agg(F.min("doc_id")).collect()[0][0]
    hi = docs.agg(F.max("doc_id")).collect()[0][0]
    updates = docs.where(F.col("doc_id").between(lo, lo + 3)).withColumn(
        "lang", F.lit("xx")
    ).unionByName(
        spark.createDataFrame(
            [Row(doc_id=hi + 1000, lang="new", text="inserted row")]
        )
    )
    snap.snapshot_merge(spark, path, updates, key="doc_id")

    m1 = snap._read_manifest(snap._FS(spark, path), path, 1)
    # files outside the updated key range were carried by reference
    assert m1["carried_files"] > 0
    assert m1["rewrote_files"] < len(m0["files"])
    carried_paths = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried_paths) == m1["carried_files"]

    back = snap.snapshot_read(spark, path)
    assert back.where(F.col("doc_id") == hi + 1000).count() == 1  # insert landed
    assert (
        back.where(F.col("doc_id").between(lo, lo + 3))
        .where(F.col("lang") != "xx")
        .count()
        == 0
    )  # updates replaced
    assert back.count() == docs.count() + 1  # no row duplicated or lost


def test_merge_rejects_duplicate_update_keys_and_missing_stats(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir).limit(20)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    dup = docs.limit(2).unionByName(docs.limit(2))
    with pytest.raises(ValueError, match="duplicate"):
        snap.snapshot_merge(spark, path, dup, key="doc_id")

    path2 = str(tmp_path / "nostats")
    snap.snapshot_write(docs, path2, mode="overwrite")
    with pytest.raises(ValueError, match="stats"):
        snap.snapshot_merge(spark, path2, docs.limit(1), key="doc_id")


def test_delete_drops_covered_files_without_io(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    clustered = docs.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
    snap.snapshot_write(clustered, path, mode="overwrite", stats_cols=["doc_id"])
    m0 = snap._read_manifest(snap._FS(spark, path), path, 0)
    # delete range = exactly the full span of the first file -> it must be
    # dropped as metadata (plus possible boundary rewrites of neighbors)
    first = min(m0["files"], key=lambda e: e["stats"]["doc_id"][0])
    lo, hi = first["stats"]["doc_id"]
    snap.snapshot_delete(spark, path, "doc_id", lo, hi)
    m1 = snap._read_manifest(snap._FS(spark, path), path, 1)
    assert m1["dropped_files"] >= 1
    assert first["path"] not in {e["path"] for e in m1["files"]}
    back = snap.snapshot_read(spark, path)
    expected = docs.where(~F.col("doc_id").between(lo, hi))
    assert _sorted_rows(back, "doc_id") == _sorted_rows(expected, "doc_id")


def test_compact_rewrites_small_files_only(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(
        docs.repartition(16), path, mode="overwrite", stats_cols=["doc_id"]
    )
    m0 = snap._read_manifest(snap._FS(spark, path), path, 0)
    assert len(m0["files"]) == 16
    v = snap.snapshot_compact(spark, path, target_file_bytes=1 << 30)
    assert v == 1
    m1 = snap._read_manifest(snap._FS(spark, path), path, 1)
    assert len(m1["files"]) < len(m0["files"])
    assert _sorted_rows(snap.snapshot_read(spark, path), "doc_id") == _sorted_rows(
        docs, "doc_id"
    )
    # compacting an already-compact table is a no-op version-wise
    assert snap.snapshot_compact(spark, path, target_file_bytes=1) == 1


def test_vacuum_removes_unreferenced_files_and_old_versions(
    spark, sf_dir, tmp_path
):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs.limit(50), path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_write(docs, path, mode="overwrite")  # v1 replaces all files
    res = snap.snapshot_vacuum(spark, path, keep_versions=1, retention_minutes=0)
    assert res["deleted_files"] > 0 and res["deleted_manifests"] == 1
    assert snap.snapshot_read(spark, path).count() == docs.count()
    with pytest.raises(FileNotFoundError, match="vacuumed|no manifest"):
        snap.snapshot_read(spark, path, version=0)


def test_append_evolves_schema_with_null_fill(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    new = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", F.length("text").alias("chars"))
    )
    snap.snapshot_write(old, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_write(new, path, mode="append")
    back = snap.snapshot_read(spark, path)
    assert back.columns == ["doc_id", "lang", "chars"]
    # old files null-fill the added column; new rows carry real values
    assert back.where(F.col("doc_id") % 2 == 0).where(
        F.col("chars").isNotNull()
    ).count() == 0
    assert back.where(F.col("doc_id") % 2 == 1).where(
        F.col("chars").isNull()
    ).count() == 0
    assert back.count() == docs.count()

    # appending WITHOUT a column null-fills it on the new rows
    snap.snapshot_write(
        spark.createDataFrame([(10_000_000, 7)], "doc_id long, chars int"),
        path, mode="append",
    )
    got = snap.snapshot_read(spark, path).where(F.col("doc_id") == 10_000_000)
    assert got.select("lang", "chars").collect()[0] == Row(lang=None, chars=7)

    # a type change is refused loudly
    with pytest.raises(ValueError, match="type changes"):
        snap.snapshot_write(
            spark.createDataFrame([Row(doc_id=1, lang=3.5)]), path, mode="append"
        )


def test_changes_reads_only_appended_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(
        docs.where(F.col("doc_id") % 3 == 0), path, mode="overwrite",
        stats_cols=["doc_id"],
    )
    snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 1), path, mode="append")
    snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 2), path, mode="append")

    delta = snap.snapshot_changes(spark, path, since_version=0)
    expected = docs.where(F.col("doc_id") % 3 != 0)
    assert _sorted_rows(delta, "doc_id") == _sorted_rows(expected, "doc_id")
    # the CDC read scanned ONLY the two new commit dirs, not the base file
    m0 = snap._read_manifest(snap._FS(spark, path), path, 0)
    base_paths = {e["path"] for e in m0["files"]}
    import re as _re

    def norm(p):
        return _re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*:/+", "/", p)

    assert {norm(p) for p in delta.inputFiles()}.isdisjoint(
        {norm(p) for p in base_paths}
    )
    # bounded window + empty window
    one = snap.snapshot_changes(spark, path, since_version=0, to_version=1)
    assert _sorted_rows(one, "doc_id") == _sorted_rows(
        docs.where(F.col("doc_id") % 3 == 1), "doc_id"
    )
    assert snap.snapshot_changes(spark, path, since_version=2).count() == 0


def test_changes_rejects_non_append_windows(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir).limit(50)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_merge(
        spark, path, docs.limit(2).withColumn("lang", F.lit("xx")), key="doc_id"
    )
    with pytest.raises(ValueError, match="not append-only"):
        snap.snapshot_changes(spark, path, since_version=0)
    with pytest.raises(ValueError, match="newer than"):
        snap.snapshot_changes(spark, path, since_version=9)


def test_refresh_agg_incremental_matches_full_recompute(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    docs = _docs(spark, sf_dir)

    def expected(upto):
        return (
            docs.where(F.col("doc_id") % 3 <= upto)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.length("text")).alias("chars"),
            )
        )

    snap.snapshot_write(
        docs.where(F.col("doc_id") % 3 == 0), src, mode="overwrite",
        stats_cols=["doc_id"],
    )
    v = snap.snapshot_refresh_agg(
        spark, src, agg, ["lang"], {"chars": "length(text)"}
    )
    assert v == 0
    assert _sorted_rows(
        snap.snapshot_read(spark, agg), "lang", "n_rows", "chars"
    ) == _sorted_rows(expected(0), "lang", "n_rows", "chars")

    # append + refresh: folds only the delta, result == full recompute
    snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 1), src, mode="append")
    snap.snapshot_write(docs.where(F.col("doc_id") % 3 == 2), src, mode="append")
    snap.snapshot_refresh_agg(spark, src, agg, ["lang"], {"chars": "length(text)"})
    assert _sorted_rows(
        snap.snapshot_read(spark, agg), "lang", "n_rows", "chars"
    ) == _sorted_rows(expected(2), "lang", "n_rows", "chars")

    # nothing new -> version-preserving no-op
    v_before = snap._latest_version(snap._FS(spark, agg), agg)
    assert (
        snap.snapshot_refresh_agg(
            spark, src, agg, ["lang"], {"chars": "length(text)"}
        )
        == v_before
    )
    assert snap._latest_version(snap._FS(spark, agg), agg) == v_before


def test_refresh_agg_falls_back_on_non_append_history(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, src, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_refresh_agg(spark, src, agg, ["lang"], {"chars": "length(text)"})
    # a DELETE lands: the next refresh cannot fold a file diff — it must
    # fall back to a full recompute and still be exactly right
    lo = docs.agg(F.min("doc_id")).collect()[0][0]
    snap.snapshot_delete(spark, src, "doc_id", lo, lo + 10)
    snap.snapshot_refresh_agg(spark, src, agg, ["lang"], {"chars": "length(text)"})
    expected = (
        docs.where(~F.col("doc_id").between(lo, lo + 10))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.length("text")).alias("chars"),
        )
    )
    assert _sorted_rows(
        snap.snapshot_read(spark, agg), "lang", "n_rows", "chars"
    ) == _sorted_rows(expected, "lang", "n_rows", "chars")

    with pytest.raises(ValueError, match="collide"):
        snap.snapshot_refresh_agg(spark, src, agg, ["lang"], {"lang": "1"})


def test_sink_batch_is_idempotent_across_replay(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir).limit(30)
    b0 = docs.where(F.col("doc_id") % 3 == 0)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    assert snap.snapshot_sink_batch(b0, path, run_id="r1", batch_id=0) == 0
    assert snap.snapshot_sink_batch(b1, path, run_id="r1", batch_id=1) == 1
    # crash replay of batch 1: must be a no-op, not a double append
    assert snap.snapshot_sink_batch(b1, path, run_id="r1", batch_id=1) is None
    back = snap.snapshot_read(spark, path)
    assert back.count() == b0.count() + b1.count()
    # a NEW run generation (wiped checkpoint) with the same batch ids is
    # its own stream of commits, never confused with r1's
    assert snap.snapshot_sink_batch(b0, path, run_id="r2", batch_id=0) == 2
    assert snap.snapshot_read(spark, path).count() == 2 * b0.count() + b1.count()


# ---------------------------------------------------------------------------
# merge-on-read equality deletes (Iceberg v2 shape)


def test_delete_keys_merge_on_read(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    gone = docs.where(F.col("doc_id") < 50).select("doc_id")
    v1 = snap.snapshot_delete_keys(spark, path, gone, "doc_id")
    assert v1 == 1
    # no data file was touched: v1 carries v0's files verbatim
    fs = snap._FS(spark, path)
    m0, m1 = snap._read_manifest(fs, path, 0), snap._read_manifest(fs, path, 1)
    assert [e["path"] for e in m0["files"]] == [e["path"] for e in m1["files"]]
    assert m1["action"] == "delete_keys" and len(m1["deletes"]) >= 1
    # merge-on-read: latest excludes the keys; time travel still has them
    want = _sorted_rows(docs.where(F.col("doc_id") >= 50), "doc_id", "lang")
    assert _sorted_rows(snap.snapshot_read(spark, path), "doc_id", "lang") == want
    assert (
        snap.snapshot_read(spark, path, version=0).count() == docs.count()
    )
    # scan applies deletes too
    assert snap.snapshot_scan(spark, path, "doc_id", 0, 60).count() == docs.where(
        (F.col("doc_id") >= 50) & (F.col("doc_id") <= 60)
    ).count()
    with pytest.raises(ValueError, match="no column"):
        snap.snapshot_delete_keys(spark, path, gone, "nope")


def test_delete_keys_respects_row_generations(spark, sf_dir, tmp_path):
    """Rows appended AFTER a delete share its keys but must survive —
    the sequence-number semantics that make delete-then-recrawl work."""
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") < 100)
    snap.snapshot_write(old, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_delete_keys(
        spark, path, old.select("doc_id"), "doc_id"
    )
    assert snap.snapshot_read(spark, path).count() == 0
    # re-crawl: same doc_ids, fresh rows
    recrawl = old.withColumn("lang", F.lit("recrawled"))
    snap.snapshot_write(recrawl, path, mode="append")
    got = snap.snapshot_read(spark, path)
    assert got.count() == old.count()
    assert {r["lang"] for r in got.select("lang").distinct().collect()} == {
        "recrawled"
    }


def test_materialize_deletes_rewrites_pruned_and_clears(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    # two range-clustered commits so the key stats can prune
    lo = docs.where(F.col("doc_id") < 250).repartition(2)
    hi = docs.where(F.col("doc_id") >= 250).repartition(2)
    snap.snapshot_write(lo, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_write(hi, path, mode="append")
    gone = docs.where(F.col("doc_id") < 10).select("doc_id")
    snap.snapshot_delete_keys(spark, path, gone, "doc_id")
    before = _sorted_rows(snap.snapshot_read(spark, path), "doc_id")
    v = snap.snapshot_materialize_deletes(spark, path)
    after = _sorted_rows(snap.snapshot_read(spark, path), "doc_id")
    assert after == before  # read-identical, now physically applied
    fs = snap._FS(spark, path)
    m = snap._read_manifest(fs, path, v)
    assert m["deletes"] == []
    # the hi-range files never overlapped doc_id < 10: carried untouched
    assert m["carried_files"] >= 2
    assert m["rewrote_files"] >= 1
    # idempotent: nothing pending -> same version back
    assert snap.snapshot_materialize_deletes(spark, path) == v


def test_rewrites_never_resurrect_deleted_rows(spark, sf_dir, tmp_path):
    """merge / compact / range-delete rewrites read through the delete-
    aware path, so a rewritten file can't bring deleted rows back."""
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_delete_keys(
        spark, path, docs.where(F.col("doc_id") < 20).select("doc_id"), "doc_id"
    )
    # copy-on-write merge touching the whole key range
    ups = docs.where(F.col("doc_id").between(200, 210)).withColumn(
        "lang", F.lit("merged")
    )
    snap.snapshot_merge(spark, path, ups, key="doc_id")
    got = snap.snapshot_read(spark, path)
    assert got.where(F.col("doc_id") < 20).count() == 0
    # compact everything small
    snap.snapshot_compact(spark, path, target_file_bytes=1 << 30)
    assert snap.snapshot_read(spark, path).where(F.col("doc_id") < 20).count() == 0


def test_vacuum_keeps_live_delete_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_delete_keys(
        spark, path, docs.where(F.col("doc_id") < 30).select("doc_id"), "doc_id"
    )
    want = _sorted_rows(snap.snapshot_read(spark, path), "doc_id")
    snap.snapshot_vacuum(spark, path, keep_versions=1, retention_minutes=0)
    assert _sorted_rows(snap.snapshot_read(spark, path), "doc_id") == want


def test_changes_refuses_delete_keys_window(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_delete_keys(
        spark, path, docs.limit(5).select("doc_id"), "doc_id"
    )
    with pytest.raises(ValueError, match="delete_keys"):
        snap.snapshot_changes(spark, path, 0)


def test_tags_read_and_survive_vacuum(spark, sf_dir, tmp_path):
    """A tag pins a release: read-by-tag returns that version, retagging
    moves the pointer, and vacuum keeps tagged versions (files included)
    even past keep_versions."""
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    evens = docs.where(F.col("doc_id") % 2 == 0)
    snap.snapshot_write(evens, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_tag(spark, path, "release-1")  # -> v0
    snap.snapshot_write(docs.where(F.col("doc_id") % 2 == 1), path, mode="append")
    snap.snapshot_write(docs.limit(7), path, mode="overwrite")
    assert snap.snapshot_tags(spark, path) == {"release-1": 0}
    got = snap.snapshot_read(spark, path, tag="release-1")
    assert _sorted_rows(got, "doc_id") == _sorted_rows(evens, "doc_id")
    # vacuum keeps only the newest version... plus the tagged one
    snap.snapshot_vacuum(spark, path, keep_versions=1, retention_minutes=0)
    assert snap.snapshot_read(spark, path, tag="release-1").count() == evens.count()
    with pytest.raises(FileNotFoundError, match="vacuumed or never"):
        snap.snapshot_read(spark, path, version=1)  # untagged mid version gone
    # retag moves the pointer; validators fire
    snap.snapshot_tag(spark, path, "release-1")  # now latest
    assert snap.snapshot_read(spark, path, tag="release-1").count() == 7
    with pytest.raises(ValueError, match="tag names"):
        snap.snapshot_tag(spark, path, "bad name!")
    with pytest.raises(FileNotFoundError, match="no tag"):
        snap.snapshot_read(spark, path, tag="nope")
    with pytest.raises(ValueError, match="at most one"):
        snap.snapshot_read(spark, path, version=0, tag="release-1")


def test_streaming_takedown_sink_exactly_once(spark, sf_dir, tmp_path):
    """snapshot_delete_keys_batch: a real readStream of delete keys
    drains through foreachBatch into MoR delete commits; replaying the
    SAME stream against a wiped checkpoint (same run_id) is a no-op —
    rows re-appended between attempts survive (generation safety)."""
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])

    feed = str(tmp_path / "feed")
    docs.where(F.col("doc_id") < 40).select("doc_id").write.parquet(feed)
    schema = spark.read.parquet(feed).schema

    def run(ckpt):
        stream = spark.readStream.schema(schema).parquet(feed)
        q = (
            stream.writeStream.foreachBatch(
                lambda b, i: snap.snapshot_delete_keys_batch(
                    b, path, "doc_id", run_id="takedown-1", batch_id=i
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    assert snap.snapshot_read(spark, path).where(F.col("doc_id") < 40).count() == 0
    n_after_first = snap.snapshot_read(spark, path).count()
    v_after_first = snap.snapshot_versions(spark, path)[-1]["version"]

    # re-crawl some of the deleted ids, then REPLAY with a fresh
    # checkpoint (same run_id): must be a no-op, not a re-delete
    recrawl = docs.where(F.col("doc_id") < 10)
    snap.snapshot_write(recrawl, path, mode="append")
    run(str(tmp_path / "ckpt2"))
    got = snap.snapshot_read(spark, path)
    assert got.where(F.col("doc_id") < 10).count() == recrawl.count()
    assert got.count() == n_after_first + recrawl.count()
    # exactly one delete commit + one append since
    vs = [v["version"] for v in snap.snapshot_versions(spark, path)]
    assert max(vs) == v_after_first + 1  # only the append added a version


def test_takedown_sink_empty_batch_publishes_nothing(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    empty = docs.where(F.lit(False)).select("doc_id")
    assert snap.snapshot_delete_keys_batch(
        empty, path, "doc_id", run_id="r", batch_id=0
    ) is None
    assert snap.snapshot_versions(spark, path)[-1]["version"] == 0


def test_streaming_sinks_survive_vacuum(spark, sf_dir, tmp_path):
    """The (run_id, batch_id) idempotence walk must treat a vacuumed
    parent as end-of-chain — before this fix the FIRST vacuum
    permanently crashed every streaming sink pointed at the table."""
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_delete_keys_batch(
        docs.limit(5).select("doc_id"), path, "doc_id", run_id="r", batch_id=0
    )
    snap.snapshot_sink_batch(docs.limit(3), path, run_id="r2", batch_id=0)
    snap.snapshot_vacuum(spark, path, keep_versions=1, retention_minutes=0)
    # both sinks keep working after the chain was truncated
    v = snap.snapshot_delete_keys_batch(
        docs.limit(8).select("doc_id"), path, "doc_id", run_id="r", batch_id=1
    )
    assert v is not None
    assert snap.snapshot_sink_batch(docs.limit(2), path, run_id="r2", batch_id=1) is not None


def test_delete_keys_empty_is_noop(spark, sf_dir, tmp_path):
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    empty = docs.where(F.lit(False)).select("doc_id")
    assert snap.snapshot_delete_keys(spark, path, empty, "doc_id") is None
    assert snap.snapshot_versions(spark, path)[-1]["version"] == 0


def test_hilbert_clustering_improves_snapshot_scan_pruning(spark, tmp_path):
    """Cross-feature composition: a snapshot table written in Hilbert
    order gets tight per-file min/max on BOTH key columns, so
    snapshot_scan prunes more files than the same table written in
    arrival order — the layout layer and the manifest-stats layer
    multiply."""
    from pyspark.sql import functions as F

    from plda_spark.sources.zorder import hilbert_value_col

    df = spark.range(4096).select(
        F.col("id").alias("k"),
        (F.pmod(F.hash(F.col("id")), F.lit(64))).alias("x"),
        (F.pmod(F.hash(F.col("id") * 7 + 1), F.lit(64))).alias("y"),
    )
    plain = str(tmp_path / "plain")
    clustered = str(tmp_path / "clustered")
    snap.snapshot_write(
        df.repartition(8), plain, mode="overwrite", stats_cols=["x", "y"]
    )
    ordered = (
        df.withColumn("__h", hilbert_value_col("x", "y", bits=6))
        .repartitionByRange(8, "__h")
        .sortWithinPartitions("__h")
        .drop("__h")
    )
    snap.snapshot_write(ordered, clustered, mode="overwrite", stats_cols=["x", "y"])

    def files_scanned(path):
        man = snap._read_manifest(snap._FS(spark, path), path, 0)
        return sum(1 for e in man["files"] if snap._overlaps(e, "x", 10, 15))

    n_plain, n_clustered = files_scanned(plain), files_scanned(clustered)
    assert n_plain == 8  # arrival order: every file spans the x domain
    assert n_clustered <= n_plain // 2  # clustered: most files pruned
    # identical answers either way
    got = snap.snapshot_scan(spark, clustered, "x", 10, 15)
    want = snap.snapshot_scan(spark, plain, "x", 10, 15)
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )


def test_vacuum_retention_protects_inflight_writers(spark, sf_dir, tmp_path):
    """ADVICE r5 (medium): a concurrent writer's already-written commit
    directory (and Spark _temporary staging) must survive vacuum even
    though no kept manifest references it yet — otherwise the writer's
    later manifest publish succeeds against deleted files (data loss).
    The guards: skip files younger than retention_minutes, and skip
    anything under a _temporary path component regardless of age."""
    import os

    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir).limit(50)
    snap.snapshot_write(docs, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_write(docs, path, mode="overwrite")  # orphan v0's files

    # Simulate an in-flight writer: a prepared-but-unpublished commit
    # directory plus FileOutputCommitter staging under _temporary.
    data_dir = str(tmp_path / "tbl" / "data")
    inflight = os.path.join(data_dir, "c_inflight")
    staging = os.path.join(data_dir, "_temporary", "0", "task_0")
    os.makedirs(inflight)
    os.makedirs(staging)
    inflight_file = os.path.join(inflight, "part-00000.parquet")
    staged_file = os.path.join(staging, "part-00000.parquet")
    for f in (inflight_file, staged_file):
        with open(f, "w") as fh:
            fh.write("x")

    # Default retention: the just-written orphans AND the in-flight
    # files are all young — nothing may be deleted.
    res = snap.snapshot_vacuum(spark, path, keep_versions=1)
    assert res["deleted_files"] == 0
    assert os.path.exists(inflight_file) and os.path.exists(staged_file)

    # Age the in-flight + orphan files past a tiny retention window:
    # the staged file must STILL survive (path guard), the orphans go.
    old = time.time() - 3600
    for root, _, files in os.walk(data_dir):
        for f in files:
            os.utime(os.path.join(root, f), (old, old))
    res = snap.snapshot_vacuum(
        spark, path, keep_versions=1, retention_minutes=1
    )
    assert res["deleted_files"] > 0
    assert not os.path.exists(inflight_file)  # aged orphan: fair game
    assert os.path.exists(staged_file)  # _temporary: protected forever
    assert snap.snapshot_read(spark, path).count() == 50

    with pytest.raises(ValueError):
        snap.snapshot_vacuum(spark, path, retention_minutes=-1)


def test_merge_on_date_key_prunes_without_typeerror(spark, tmp_path):
    """ADVICE r5 (low): manifest stats are _json_safe ISO strings while
    collected update keys were Python date objects — the bisect pruning
    path raised an uncaught TypeError on any small merge keyed on a
    temporal column.  Keys now normalize through _json_safe; pruning
    still works (untouched files carried by reference)."""
    import datetime

    path = str(tmp_path / "tbl")
    rows = [
        Row(day=datetime.date(2024, 1, d), n=d) for d in range(1, 9)
    ]
    base = spark.createDataFrame(rows).repartition(4, "day")
    snap.snapshot_write(base, path, mode="overwrite", stats_cols=["day"])
    upd = spark.createDataFrame([Row(day=datetime.date(2024, 1, 3), n=300)])
    v = snap.snapshot_merge(spark, path, upd, key="day")
    got = {r["day"]: r["n"] for r in snap.snapshot_read(spark, path).collect()}
    assert got[datetime.date(2024, 1, 3)] == 300
    assert len(got) == 8 and got[datetime.date(2024, 1, 5)] == 5
    # pruning happened: not every file was rewritten for a 1-key merge
    man = snap._read_manifest(snap._FS(spark, path), path, v)
    assert len(man["files"]) > 1


def test_streaming_sink_idempotence_check_is_o1(spark, tmp_path, monkeypatch):
    """VERDICT r5 item 4: the (run_id, batch_id) idempotence check used
    to walk the whole live parent chain per micro-batch — O(versions).
    Every manifest now carries a bounded recent_markers index, so the
    check reads exactly ONE manifest; absence in a complete index is
    definitive (no fallback walk)."""
    path = str(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    # 60 committed batches -> 60 live versions, all with markers
    for b in range(60):
        assert snap.snapshot_sink_batch(df, path, "runA", b) == b
    # plus interleaved non-streaming commits that must CARRY the index
    snap.snapshot_compact(spark, path, target_file_bytes=1)
    v = snap.snapshot_write(df, path, mode="append")

    reads = []
    real = snap._read_manifest

    def counting(fs, p, version):
        reads.append(version)
        return real(fs, p, version)

    monkeypatch.setattr(snap, "_read_manifest", counting)

    fs = snap._FS(spark, path)
    # committed marker: one manifest read (the latest), hit in the index
    reads.clear()
    assert snap._batch_already_committed(fs, path, "runA", 0) is True
    assert len(reads) == 1 and reads[0] == v
    assert snap._batch_already_committed(fs, path, "runA", 59) is True
    # uncommitted marker: index is complete -> miss is final, still 1 read
    reads.clear()
    assert snap._batch_already_committed(fs, path, "runA", 999) is False
    assert len(reads) == 1
    assert snap._batch_already_committed(fs, path, "runB", 0) is False

    # and the public sink respects it: replay is a no-op, new batch lands
    monkeypatch.setattr(snap, "_read_manifest", real)
    assert snap.snapshot_sink_batch(df, path, "runA", 3) is None
    assert snap.snapshot_sink_batch(df, path, "runA", 60) == v + 1
    assert snap.snapshot_read(spark, path).count() == 5 * 62


def test_marker_index_falls_back_on_legacy_chain(spark, tmp_path):
    """Manifests written before the index existed lack recent_markers:
    the check must fall back to the chain walk and still find old
    markers (and a truncated index must do the same past its cap)."""
    path = str(tmp_path / "tbl")
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    snap.snapshot_sink_batch(df, path, "runL", 0)
    # simulate a legacy manifest: strip the index fields from latest
    fs = snap._FS(spark, path)
    man = snap._read_manifest(fs, path, 0)
    man.pop("recent_markers")
    man.pop("markers_complete")
    fs.write_text(f"{path}/_manifests/v{0:010d}.json", json.dumps(man))
    # new commit on top of the legacy parent: carries an INCOMPLETE index
    snap.snapshot_sink_batch(df, path, "runL", 1)
    m1 = snap._read_manifest(fs, path, 1)
    assert m1["markers_complete"] is False
    assert m1["recent_markers"] == ["runL:1"]
    # batch 0's marker survives only in the legacy manifest: walk finds it
    assert snap._batch_already_committed(fs, path, "runL", 0) is True
    assert snap._batch_already_committed(fs, path, "runL", 2) is False
    # replay of the legacy batch is still a no-op through the public sink
    assert snap.snapshot_sink_batch(df, path, "runL", 0) is None


def test_snapshot_retry_lands_racing_appends(spark, tmp_path, monkeypatch):
    """VERDICT r5 item 5: the retry the ConcurrentWriteError docstring
    promises is now a helper.  Deterministic race: a competing append
    wins the version right before our publish; snapshot_retry re-reads
    and re-applies, and BOTH appends land."""
    path = str(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    snap.snapshot_write(df, path, mode="overwrite")

    real_publish = snap._publish
    raced = {"done": False}

    def racing_publish(fs, p, manifest):
        if not raced["done"]:
            raced["done"] = True
            real_publish(fs, p, dict(manifest))  # the competitor wins v
        return real_publish(fs, p, manifest)

    monkeypatch.setattr(snap, "_publish", racing_publish)
    v = snap.snapshot_retry(
        lambda: snap.snapshot_write(df, path, mode="append")
    )
    assert v == 2  # competitor took v1, the retried append landed at v2
    assert snap.snapshot_read(spark, path).count() == 15

    # exhausting every attempt re-raises the last conflict
    monkeypatch.setattr(snap, "_publish", real_publish)

    def always_loses():
        raise snap.ConcurrentWriteError("synthetic")

    with pytest.raises(snap.ConcurrentWriteError):
        snap.snapshot_retry(always_loses, max_attempts=3)
    with pytest.raises(ValueError):
        snap.snapshot_retry(lambda: None, max_attempts=0)


def test_timestamp_time_travel(spark, tmp_path):
    """snapshot_read(as_of_ms=...) — Iceberg FOR TIMESTAMP AS OF: every
    commit stamps committed_at_ms at the publish point; a probe between
    two commits reads the older one, before the first commit errors,
    and pre-stamp (legacy) manifests stay reachable as 'oldest'."""
    path = str(tmp_path / "tbl")
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    snap.snapshot_write(df, path, mode="overwrite")
    vs = snap.snapshot_versions(spark, path)
    t0 = vs[0]["committed_at_ms"]
    assert isinstance(t0, int) and t0 > 0
    time.sleep(0.05)
    probe_between = int(time.time() * 1000)
    time.sleep(0.05)
    snap.snapshot_write(df, path, mode="append")
    v1_ts = snap.snapshot_versions(spark, path)[1]["committed_at_ms"]
    assert v1_ts > probe_between >= t0

    assert snap.snapshot_read(spark, path, as_of_ms=probe_between).count() == 5
    assert snap.snapshot_read(
        spark, path, as_of_ms=int(time.time() * 1000)
    ).count() == 10
    with pytest.raises(FileNotFoundError, match="no version committed"):
        snap.snapshot_read(spark, path, as_of_ms=t0 - 10_000)
    with pytest.raises(ValueError, match="at most one"):
        snap.snapshot_read(spark, path, version=0, as_of_ms=probe_between)

    # legacy manifest without the stamp counts as infinitely old
    fs = snap._FS(spark, path)
    man = snap._read_manifest(fs, path, 0)
    man.pop("committed_at_ms")
    fs.write_text(f"{path}/_manifests/v{0:010d}.json", json.dumps(man))
    assert snap.snapshot_read(spark, path, as_of_ms=t0 - 10_000).count() == 5


def test_bloom_file_skipping_point_lookup(spark, tmp_path):
    """Per-file bloom filters: with md5-digest keys every file's
    min/max range spans the whole key space (range pruning reads ALL
    files), but the bloom prunes to ~1 file per point lookup; results
    stay exact, appends carry filters by reference, compaction
    recomputes them, and the spark/python hash twins agree."""
    import hashlib

    path = str(tmp_path / "tbl")
    docs = spark.range(2000).select(
        F.md5(F.col("id").cast("string")).alias("key"),
        F.col("id").alias("n"),
    ).repartition(8)
    snap.snapshot_write(docs, path, mode="overwrite",
                        stats_cols=["key"], bloom_cols=["key"])
    man = snap._read_manifest(snap._FS(spark, path), path, 0)
    assert man["bloom_cols"] == ["key"]
    assert all("bloom" in e and len(e["bloom"]["key"]) == 32
               for e in man["files"])
    assert len(man["files"]) == 8

    probe = hashlib.md5(b"123").hexdigest()
    kept = [e for e in man["files"]
            if snap._overlaps(e, "key", probe, probe)
            and snap._bloom_may_contain(e, "key", probe)]
    # range stats alone keep all 8 (hex digests span the space); bloom
    # at 2048 bits / ~250 keys-file prunes to very few
    kept_range = [e for e in man["files"]
                  if snap._overlaps(e, "key", probe, probe)]
    assert len(kept_range) == 8
    assert 1 <= len(kept) <= 2

    got = snap.snapshot_scan_point(spark, path, "key", probe).collect()
    assert len(got) == 1 and got[0]["n"] == 123
    absent = hashlib.md5(b"not-a-row").hexdigest()
    assert snap.snapshot_scan_point(spark, path, "key", absent).count() == 0

    # append carries config + old entries' filters by reference
    more = spark.range(2000, 2500).select(
        F.md5(F.col("id").cast("string")).alias("key"),
        F.col("id").alias("n"),
    )
    snap.snapshot_write(more, path, mode="append")
    man1 = snap._read_manifest(snap._FS(spark, path), path, 1)
    assert man1["bloom_cols"] == ["key"]
    assert all("bloom" in e for e in man1["files"])
    probe2 = hashlib.md5(b"2400").hexdigest()
    assert snap.snapshot_scan_point(spark, path, "key", probe2).count() == 1

    # compaction rewrites small files and RECOMPUTES their filters
    snap.snapshot_compact(spark, path, target_file_bytes=1 << 30)
    man2 = snap._read_manifest(snap._FS(spark, path), path, 2)
    assert all("bloom" in e for e in man2["files"])
    assert snap.snapshot_scan_point(spark, path, "key", probe).count() == 1

    # spark-side builder and python-side prober share the hash exactly,
    # for hex, non-ASCII and integer keys
    from plda_spark._exprs import md5_bucket
    for v in (probe, "naïve-ключ-键", 123456789):
        row = spark.range(1).select(
            *[md5_bucket(F.lit(v), i, 2048).alias(f"p{i}") for i in range(3)]
        ).first()
        for i in range(3):
            assert row[f"p{i}"] == snap._bloom_pos_py(v, i, 2048)


def test_rollback_restores_state_as_new_version(spark, sf_dir, tmp_path):
    """Delta-RESTORE semantics: rollback publishes a NEW head whose
    content equals the target version, history stays time-travelable,
    vacuum keeps the re-referenced files, and streaming idempotence
    markers are carried from the pre-rollback head."""
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir)
    evens = docs.where(F.col("doc_id") % 2 == 0)
    odds = docs.where(F.col("doc_id") % 2 == 1)

    snap.snapshot_write(evens, path, mode="overwrite", stats_cols=["doc_id"])
    snap.snapshot_tag(spark, path, "clean", version=0)
    snap.snapshot_sink_batch(odds, path, run_id="runA", batch_id=7)  # v1
    snap.snapshot_delete(spark, path, "doc_id", 0, 10)               # v2

    v3 = snap.snapshot_rollback(spark, path, version=0)
    assert v3 == 3
    assert _sorted_rows(snap.snapshot_read(spark, path), "doc_id") == _sorted_rows(
        evens, "doc_id"
    )
    # history intact: v2 still readable, and the rollback is a manifest copy
    assert _sorted_rows(
        snap.snapshot_read(spark, path, version=1), "doc_id"
    ) == _sorted_rows(docs, "doc_id")
    vers = snap.snapshot_versions(spark, path)
    assert [v["action"] for v in vers] == ["overwrite", "append", "delete", "rollback"]

    # idempotence survives the restore: replaying runA/7 is still a no-op
    before = snap.snapshot_versions(spark, path)[-1]["version"]
    assert snap.snapshot_sink_batch(odds, path, run_id="runA", batch_id=7) is None
    assert snap.snapshot_versions(spark, path)[-1]["version"] == before

    # rollback by tag equals rollback by version
    v_next = snap.snapshot_rollback(spark, path, tag="clean")
    assert _sorted_rows(
        snap.snapshot_read(spark, path, version=v_next), "doc_id"
    ) == _sorted_rows(evens, "doc_id")

    # vacuum to only the head keeps the restored (v0-born) data readable
    snap.snapshot_vacuum(spark, path, keep_versions=1, retention_minutes=0)
    assert _sorted_rows(snap.snapshot_read(spark, path), "doc_id") == _sorted_rows(
        evens, "doc_id"
    )

    with pytest.raises(ValueError):
        snap.snapshot_rollback(spark, path)
    with pytest.raises(ValueError):
        snap.snapshot_rollback(spark, path, version=0, tag="clean")


def test_optimize_zorder_tightens_pruning_and_materializes_deletes(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE ZORDER: content identical, pending equality deletes
    materialized (delete list empties), zorder cols join stats_cols,
    and a range scan prunes files it could not prune before."""
    path = str(tmp_path / "tbl")
    docs = _docs(spark, sf_dir).withColumn("n", F.length("text"))
    # scatter doc_id across 8 files so pre-optimize ranges all overlap
    scattered = docs.repartition(8, F.col("text"))
    snap.snapshot_write(scattered, path, mode="overwrite", stats_cols=["n"])
    snap.snapshot_delete_keys(
        spark, path, docs.limit(5).select("doc_id"), "doc_id"
    )

    before = snap._resolve(spark, path, None)
    lo = 0
    hi = 30
    pruned_before = sum(
        1 for e in before["files"] if not snap._overlaps(e, "doc_id", lo, hi)
    )

    v = snap.snapshot_optimize_zorder(spark, path, ["doc_id", "n"], num_files=8)
    after = snap._resolve(spark, path, None)
    assert after["action"] == "optimize" and after["version"] == v
    assert after["deletes"] == []
    assert set(after["stats_cols"]) >= {"doc_id", "n"}

    expected = docs.join(
        docs.limit(5).select("doc_id"), "doc_id", "left_anti"
    )
    assert _sorted_rows(snap.snapshot_read(spark, path), "doc_id") == \
        _sorted_rows(expected, "doc_id")

    pruned_after = sum(
        1 for e in after["files"] if not snap._overlaps(e, "doc_id", lo, hi)
    )
    assert pruned_after > pruned_before
    assert _sorted_rows(
        snap.snapshot_scan(spark, path, "doc_id", lo, hi), "doc_id"
    ) == _sorted_rows(expected.where(F.col("doc_id").between(lo, hi)), "doc_id")

    # empty-cols refused; optimizing an empty table is a no-op
    with pytest.raises(ValueError):
        snap.snapshot_optimize_zorder(spark, path, [])


def test_bloom_cols_survive_null_keys_and_nonstring_probes(spark, tmp_path):
    """Review pins: a NULL in a bloom column must not abort the commit
    (it simply sets no bits), and non-str/int probe values never prune
    (their Python rendering differs from Spark's cast-to-string, which
    would risk a silent false negative)."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "k1", 0.5), (2, None, 1e-07), (3, "k3", 2.0)],
        "id long, key string, score double")
    snap.snapshot_write(df, path, mode="overwrite",
                        stats_cols=["id"], bloom_cols=["key", "score"])
    # commit survived; point lookups still correct
    assert snap.snapshot_scan_point(spark, path, "key", "k3").count() == 1
    assert snap.snapshot_scan_point(spark, path, "key", "nope").count() == 0
    # float probe: rendering differs between engines -> must NOT prune
    got = snap.snapshot_scan_point(spark, path, "score", 1e-07).collect()
    assert [r["id"] for r in got] == [2]
    # bool probe falls back too (Python 'True' vs Spark 'true')
    assert snap._bloom_may_contain({"bloom": {"x": [0] * 32}}, "x", True)
    assert snap._bloom_may_contain({"bloom": {"x": [0] * 32}}, "x", 0.25)


def test_additive_ledgers_refuse_multi_generation_folds(spark, tmp_path):
    """Review pin: after a checkpoint wipe the decayed/histogram
    ledgers hold two generations covering the same events — the
    additive folds must REFUSE (loud) rather than double-count
    (silent), and accept an explicit run_id."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from plda_spark.streaming import windows

    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ev = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", "a")],
        "event_id long, ts string, event_type string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    ev.write.mode("append").parquet(in_dir)
    schema = "event_id long, ts timestamp, event_type string"
    for gen in ("ck1", "ck2"):  # second checkpoint = wiped generation
        windows.incremental_decayed_counts(
            spark.readStream.schema(schema).parquet(in_dir),
            state, str(tmp_path / gen), ["event_type"], half_life_days=7.0)
    with _pytest.raises(ValueError, match="generations"):
        windows.decayed_counts_from_ledger(spark, state, ["event_type"])
    runs = [r["run_id"] for r in
            spark.read.parquet(state).select("run_id").distinct().collect()]
    one = windows.decayed_counts_from_ledger(
        spark, state, ["event_type"], run_id_filter=runs[0]).first()
    assert one["n_events"] == 1  # single generation: no double count


def test_manifest_chain_index_bounds_reads(spark, tmp_path, monkeypatch):
    """VERDICT r6 item 4: snapshot_versions read EVERY live manifest and
    a deep as-of probe read one manifest per version skipped — both
    O(table age) on a long streaming append chain.  Maintenance actions
    (compact/optimize/vacuum) now write _manifests/_index.json; readers
    prefer it and read manifests only for the post-maintenance tail, so
    chain-shaped reads are O(tail) + ONE index read."""
    path = str(tmp_path / "tbl")
    df = spark.range(4).withColumnRenamed("id", "doc_id")
    for _ in range(30):
        snap.snapshot_write(df, path, mode="append")
    fs = snap._FS(spark, path)
    baseline = snap.snapshot_versions(spark, path)  # pre-index walk
    assert len(baseline) == 30

    # a no-op compact is still a maintenance touchpoint: index lands
    snap.snapshot_compact(spark, path, target_file_bytes=1)
    assert fs.exists(snap._index_path(path))
    # two commits AFTER the index: the unindexed tail
    snap.snapshot_write(df, path, mode="append")
    snap.snapshot_write(df, path, mode="append")

    reads = []
    real = snap._read_manifest

    def counting(fs_, p, version):
        reads.append(version)
        return real(fs_, p, version)

    monkeypatch.setattr(snap, "_read_manifest", counting)

    # versions: 32 rows from 1 listing + 1 index read + the 2-tail
    vs = snap.snapshot_versions(spark, path)
    assert [v["version"] for v in vs] == list(range(32))
    assert sorted(reads) == [30, 31], f"index not preferred: {reads}"
    # summaries via index match the pre-index walk bit-for-bit
    assert vs[:30] == baseline

    # deep as-of probe: head manifest miss -> ONE index read covers the
    # skipped history; only the unindexed v30 costs a manifest read
    reads.clear()
    old_ms = vs[0]["committed_at_ms"]
    got = snap._resolve_as_of(fs, path, old_ms)
    assert vs[got]["committed_at_ms"] <= old_ms
    assert len(reads) <= 2 and set(reads) <= {30, 31}, reads

    # torn/corrupt index degrades to the walk, never raises
    monkeypatch.setattr(snap, "_read_manifest", real)
    fs.write_text(snap._index_path(path), "{not json")
    vs2 = snap.snapshot_versions(spark, path)
    assert [v["version"] for v in vs2] == list(range(32))
    assert vs2[:30] == baseline

    # vacuum rebuilds the index over the survivors only
    snap.snapshot_vacuum(spark, path, keep_versions=3, retention_minutes=0)
    monkeypatch.setattr(snap, "_read_manifest", counting)
    reads.clear()
    vs3 = snap.snapshot_versions(spark, path)
    assert [v["version"] for v in vs3] == [29, 30, 31]
    assert reads == [], "post-vacuum summaries must come from the index"


def test_pure_append_chain_maintains_index(spark, tmp_path, monkeypatch):
    """VERDICT r7 item 3: _index.json was written only by maintenance
    actions, so a table that only ever appends (the streaming-sink
    norm) never got one and as-of reads stayed O(age) until the first
    compaction.  Every _INDEX_APPEND_EVERY-th commit now rebuilds the
    index opportunistically, bounding the unindexed tail."""
    monkeypatch.setattr(snap, "_INDEX_APPEND_EVERY", 16)
    path = str(tmp_path / "tbl")
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    for _ in range(100):
        snap.snapshot_write(df, path, mode="append")
    fs = snap._FS(spark, path)
    # versions 0..99: triggers fired at 16,32,...,96 — index exists
    # WITHOUT any compact/optimize/vacuum ever running
    assert fs.exists(snap._index_path(path))

    reads = []
    real = snap._read_manifest

    def counting(fs_, p, version):
        reads.append(version)
        return real(fs_, p, version)

    monkeypatch.setattr(snap, "_read_manifest", counting)
    vs = snap.snapshot_versions(spark, path)
    assert [v["version"] for v in vs] == list(range(100))
    # only the post-trigger tail (97..99) costs per-manifest reads
    assert sorted(set(reads)) == [97, 98, 99], reads

    # deep as-of probe is index-covered too: tail-bounded reads
    reads.clear()
    got = snap._resolve_as_of(fs, path, vs[5]["committed_at_ms"])
    assert got == 5
    assert set(reads) <= {97, 98, 99, 5}, reads

    # a failed index rebuild never fails the commit itself
    monkeypatch.setattr(snap, "_read_manifest", real)
    monkeypatch.setattr(
        snap, "_write_manifest_index",
        lambda *a, **k: (_ for _ in ()).throw(OSError("disk full")),
    )
    for _ in range(13):  # crosses version 112, the next trigger
        snap.snapshot_write(df, path, mode="append")
    assert snap._latest_version(fs, path) == 112


def test_footer_stats_match_readback_job(spark, tmp_path):
    """The driver-side parquet-footer stats fast path must be entry-for-
    entry identical to the Spark read-back aggregation it replaces —
    rows, bytes, and min/max over an int column with NULLs (including
    one all-NULL file)."""
    path = str(tmp_path / "tbl")
    df = (
        spark.range(0, 1000)
        .select(
            F.col("id").cast("long").alias("id"),
            F.when(F.col("id") % 3 == 0, F.col("id") * 7).alias("k"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        )
        # partition 0 gets only k-NULL rows: an all-NULL stats file
        .repartitionByRange(4, F.col("k").isNotNull().cast("int"), "id")
    )
    snap.snapshot_write(df, path, mode="overwrite", stats_cols=["k", "id"])
    man = snap._read_manifest(snap._FS(spark, path), path, 0)
    entries = man["files"]
    assert entries, "commit produced no files"
    cdir = entries[0]["path"].rsplit("/", 1)[0]

    # independent read-back aggregation over the SAME files (the old path)
    back = spark.read.parquet(cdir)
    per_file = {
        r["__f"]: r
        for r in back.groupBy(F.input_file_name().alias("__f"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("k").alias("kmin"),
            F.max("k").alias("kmax"),
            F.min("id").alias("imin"),
            F.max("id").alias("imax"),
        )
        .collect()
    }
    assert len(per_file) == len(entries)

    def norm(p):
        import re as _re

        return _re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*:/+", "/", p)

    by_tail = {norm(p): r for p, r in per_file.items()}
    saw_null_file = False
    for e in entries:
        r = by_tail[norm(e["path"])]
        assert e["rows"] == r["rows"]
        assert e["stats"]["k"] == [r["kmin"], r["kmax"]]
        assert e["stats"]["id"] == [r["imin"], r["imax"]]
        import os as _os

        assert e["bytes"] == _os.path.getsize(norm(e["path"]))
        if r["kmin"] is None:
            saw_null_file = True
    assert saw_null_file, "test should cover an all-NULL stats file"

    # string stats are NOT footer-safe: the fast path must decline
    assert snap._footer_entries(cdir, ["s"]) is None
    # and a float column likewise
    assert snap._footer_entries(cdir, ["k", "missing"]) is not None  # absent col ok
