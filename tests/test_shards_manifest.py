"""Round-12 shard-export format v3: file-manifest snapshots
(VERDICT r11 #1-#3, ADVICE r11).

``swap_mode='manifest'`` points ``_CURRENT`` at a small manifest FILE
mapping each shard to the immutable batch directories that own it (the
Iceberg discipline, sized down — the same sidecar pattern
``_shard_layout.json`` already uses). Appends publish zero-copy
snapshots (old files shared); partial merges are snapshot-isolated
(merged shards stream into a NEW batch dir, never into live
directories); ``keep_versions`` retains manifests and GC deletes data
no retained manifest references, at shard-subdir granularity. Plus:
optimistic concurrency on the pointer flip (two racing writers — the
loser aborts loudly, no silent lost update), and
``read_shards(version=)`` snapshot pinning for epoch-long dataloaders.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from docarray_spark.sources import (
    merge_shards,
    read_shards,
    resolve_shards_path,
    save_shards,
    shard_col,
    shard_versions,
)


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


N = 8


def _file_states(root):
    """{relative parquet path: (size, mtime)} under root, recursive."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


class TestManifestBasics:
    @pytest.fixture()
    def store(self, docs, tmp_path):
        path = str(tmp_path / "man")
        m = save_shards(
            docs, path, n_shards=N, id_col="doc_id",
            order_within=["doc_id"], swap_mode="manifest", keep_versions=2,
        )
        return path, m.toPandas()

    def test_layout_and_read(self, spark, docs, store):
        path, m = store
        # pointer names a manifest file; data lives in ONE batch dir
        cur = open(os.path.join(path, "_CURRENT")).read()
        assert cur.startswith("_m_0000000001_")
        man = json.load(
            open(os.path.join(path, "_manifests", f"{cur}.json"))
        )
        assert man["format"] == 3 and man["n"] == 1
        batches = {b for bl in man["batches_by_shard"].values() for b in bl}
        assert len(batches) == 1
        assert not any(
            d.startswith("shard=") for d in os.listdir(path)
        )  # nothing at the root — readers go through the manifest
        sidecar = json.load(open(os.path.join(path, "_shard_layout.json")))
        assert sidecar["swap_mode"] == "manifest"
        assert sidecar["manifest_version"] == 3  # v3 alongside v2
        back = read_shards(spark, path).drop("shard")
        a = docs.toPandas().sort_values("doc_id", ignore_index=True)
        b = back.toPandas()[a.columns.tolist()].sort_values(
            "doc_id", ignore_index=True
        )
        assert a.equals(b)
        # no single data root — the resolver says so honestly
        with pytest.raises(ValueError, match="manifest-mode"):
            resolve_shards_path(path, spark)

    def test_manifest_matches_rename_mode(self, spark, docs, store, tmp_path):
        """content_sum/rows are swap-layout independent across all THREE
        modes: v3 manifests of the same corpus equal v2's."""
        path, m_man = store
        other = str(tmp_path / "ren")
        m_ren = save_shards(
            docs, other, n_shards=N, id_col="doc_id",
            order_within=["doc_id"], swap_mode="rename",
        ).toPandas()
        cols = ["shard", "rows", "id_min", "id_max", "content_sum"]
        assert m_man[cols].reset_index(drop=True).equals(
            m_ren[cols].reset_index(drop=True)
        )

    def test_shard_pruning_reaches_scans(self, spark, docs, store):
        from docarray_spark.plans.audit import partition_filters

        path, _ = store
        pruned = read_shards(spark, path, shards=[1, 2])
        want = docs.select(
            shard_col("doc_id", N).alias("s")
        ).filter(F.col("s").isin([1, 2])).count()
        assert pruned.count() == want
        assert partition_filters(pruned), "shard filter not pushed to scan"

    def test_append_is_zero_copy(self, spark, docs, store):
        """VERDICT r11 #1 core: append publishes snapshot n+1 WITHOUT
        rewriting a byte of the existing corpus — prior batch files are
        shared (same size+mtime), only a new batch dir appears."""
        path, _ = store
        before = _file_states(path)
        extra = docs.limit(0).unionByName(
            docs.sparkSession.createDataFrame(
                [(900001, "fresh row", "en", "web", 9)], docs.schema
            )
        )
        m = save_shards(extra, path, mode="append")  # knobs from sidecar
        after = _file_states(path)
        assert set(before).issubset(set(after))
        for f in before:
            assert after[f] == before[f], f"{f} was rewritten by append"
        assert shard_versions(path)["current"] == 2
        back = read_shards(spark, path)
        assert back.count() == docs.count() + 1
        assert back.filter(F.col("doc_id") == 900001).count() == 1
        # the returned manifest covers the WHOLE snapshot
        assert m.toPandas().rows.sum() == docs.count() + 1

    def test_partial_merge_snapshot_isolated(self, spark, docs, store):
        """ADVICE r11 #3 closed for this layout: a partial merge never
        mutates live directories — the pre-merge snapshot stays readable
        (pinned) while the new snapshot serves the merged rows."""
        path, _ = store
        pinned = read_shards(spark, path)  # file listing captured now
        before = _file_states(path)
        batch = docs.filter(F.col("doc_id") < 5).withColumn(
            "text", F.lit("UPDATED")
        )
        m = merge_shards(batch, path, id_col="doc_id").toPandas()
        assert 0 < len(m) < N  # COW route: touched shards only
        for f in before:  # every pre-merge file intact (keep_versions=2)
            assert _file_states(path)[f] == before[f]
        assert pinned.filter(F.col("text") == "UPDATED").count() == 0
        assert pinned.count() == docs.count()
        cur = read_shards(spark, path)
        assert cur.count() == docs.count()
        assert cur.filter(F.col("text") == "UPDATED").count() == 5

    def test_merge_layout_defaults_and_contradiction(
        self, spark, docs, tmp_path
    ):
        path = str(tmp_path / "knobs")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id",
            files_per_shard=2, swap_mode="manifest",
        )
        with pytest.raises(ValueError, match="files_per_shard"):
            merge_shards(docs.limit(3), path, files_per_shard=1)
        with pytest.raises(ValueError, match="swap_mode"):
            merge_shards(docs.limit(3), path, swap_mode="rename")
        # knob-less merge inherits the stored layout
        m = merge_shards(
            docs.limit(3).withColumn("text", F.lit("X")), path
        ).toPandas()
        assert len(m) >= 1
        assert read_shards(spark, path).filter(
            F.col("text") == "X"
        ).count() == 3


class TestVersionPinning:
    def test_read_shards_version_pin(self, spark, docs, tmp_path):
        """VERDICT r11 #3 acceptance: resolve, full rewrite under the
        reader, pinned read still serves the old rows while the default
        read serves the new."""
        path = str(tmp_path / "pin")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id",
            swap_mode="manifest", keep_versions=2,
        )
        v = shard_versions(path)
        assert v == {"mode": "manifest", "current": 1, "versions": [1]}
        merge_shards(docs.withColumn("text", F.upper("text")), path)
        assert shard_versions(path)["versions"] == [1, 2]
        old = read_shards(spark, path, version=1)
        new = read_shards(spark, path)
        assert old.count() == docs.count()
        assert old.filter(F.col("text") == F.upper("text")).count() == 0
        assert new.filter(F.col("text") != F.upper("text")).count() == 0
        # beyond retention → clear error naming what IS available
        merge_shards(docs.withColumn("text", F.lower("text")), path)
        assert shard_versions(path)["versions"] == [2, 3]
        with pytest.raises(ValueError, match="not retained"):
            read_shards(spark, path, version=1)

    def test_pointer_mode_version_pin(
        self, spark, docs, tmp_path, legacy_pointer_export
    ):
        """version= works for legacy v2 pointer-dir exports too
        (retained ``_v_`` dirs are the snapshots there); a crashed,
        never-flipped ``_v_`` dir newer than current is no version."""
        import shutil

        path = legacy_pointer_export(
            str(tmp_path / "pinptr"),
            [docs, docs.withColumn("text", F.upper("text"))], 4,
            keep_versions=2,
        )
        shutil.copytree(
            os.path.join(path, "_v_0000000001"),
            os.path.join(path, "_v_0000000003"),
        )
        assert shard_versions(path) == {
            "mode": "pointer", "current": 2, "versions": [1, 2],
        }
        for pin in (1, "_v_0000000001"):
            old = read_shards(spark, path, version=pin)
            assert old.count() == docs.count()
            assert old.filter(F.col("text") == F.upper("text")).count() == 0
        for pin in (3, 7):
            with pytest.raises(ValueError, match="not retained"):
                read_shards(spark, path, version=pin)

    def test_rename_mode_rejects_version(self, spark, docs, tmp_path):
        path = str(tmp_path / "ren")
        save_shards(docs, path, n_shards=4, id_col="doc_id")
        assert shard_versions(path) == {
            "mode": "rename", "current": None, "versions": [],
        }
        with pytest.raises(ValueError, match="rename-mode"):
            read_shards(spark, path, version=1)

    def test_reader_pinned_across_concurrent_append(self, spark, docs, tmp_path):
        """A reader pinned to manifest N sees identical rows across a
        concurrent append AND a full rewrite (VERDICT r11 #1 Done
        criterion)."""
        path = str(tmp_path / "epoch")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id",
            swap_mode="manifest", keep_versions=3,
        )
        want = docs.toPandas().sort_values("doc_id", ignore_index=True)
        pinned = read_shards(spark, path, version=1)
        extra = spark.createDataFrame(
            [(900001, "fresh", "en", "web", 5)], docs.schema
        )
        save_shards(extra, path, mode="append")
        merge_shards(docs.withColumn("text", F.upper("text")), path)
        got = (
            read_shards(spark, path, version=1).drop("shard").toPandas()
            [want.columns.tolist()].sort_values("doc_id", ignore_index=True)
        )
        assert got.equals(want)
        # the already-built pre-mutation DataFrame also still collects
        assert pinned.count() == docs.count()


class TestCrashAndGC:
    def test_crash_before_flip_serves_old_and_gc(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """Death after the batch dir + manifest file are written but
        before the pointer flip: readers stay on the old complete
        snapshot; the orphan batch/manifest are swept by the next
        successful publish's GC."""
        import docarray_spark.sources.registry as registry

        path = str(tmp_path / "crash")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        orig = registry._write_text

        def dying(p, text, spark=None):
            if p.endswith("_CURRENT"):
                raise RuntimeError("injected crash before pointer flip")
            return orig(p, text, spark)

        monkeypatch.setattr(registry, "_write_text", dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_shards(
                docs.withColumn("text", F.upper("text")), path,
                id_col="doc_id",
            )
        assert shard_versions(path)["current"] == 1  # old snapshot live
        back = read_shards(spark, path)
        assert back.count() == docs.count()
        assert back.filter(F.col("text") == F.upper("text")).count() == 0
        orphans = [d for d in os.listdir(path) if d.startswith("_b_0000000002")]
        assert orphans  # crashed batch parked, unreferenced
        monkeypatch.setattr(registry, "_write_text", orig)
        merge_shards(
            docs.withColumn("text", F.upper("text")), path, id_col="doc_id"
        )
        assert shard_versions(path)["current"] == 2
        # exactly one _b_..._2 batch dir survives: the published one;
        # the crashed orphan was GC'd
        b2 = [d for d in os.listdir(path) if d.startswith("_b_0000000002")]
        assert len(b2) == 1
        back = read_shards(spark, path)
        assert back.filter(F.col("text") != F.upper("text")).count() == 0

    def test_shard_subdir_gc_after_retention(self, spark, docs, tmp_path):
        """keep_versions=1: a partial merge supersedes the touched
        shards' old files — GC removes exactly those ``shard=K`` subdirs
        from the old batch while its untouched shards stay live."""
        path = str(tmp_path / "gc")
        save_shards(
            docs, path, n_shards=N, id_col="doc_id",
            swap_mode="manifest", keep_versions=1,
        )
        b1 = [d for d in os.listdir(path) if d.startswith("_b_")][0]
        batch = docs.filter(F.col("doc_id") < 5).withColumn(
            "text", F.lit("UPDATED")
        )
        m = merge_shards(batch, path, id_col="doc_id").toPandas()
        touched = set(m.shard)
        left = {
            int(d.split("=", 1)[1])
            for d in os.listdir(os.path.join(path, b1))
            if d.startswith("shard=")
        }
        assert left == set(range(N)) - touched  # superseded subdirs GC'd
        cur = read_shards(spark, path)
        assert cur.count() == docs.count()
        assert cur.filter(F.col("text") == "UPDATED").count() == 5

    def test_emptied_shard_tombstoned(self, spark, docs, tmp_path):
        """Delete-only merge that empties a shard: the manifest drops
        the shard's mapping (tombstone row returned), and the reader
        sees the rows gone."""
        path = str(tmp_path / "empty")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        sid = docs.select(
            "doc_id", shard_col("doc_id", 4).alias("s")
        )
        victims = sid.filter(F.col("s") == 2).select("doc_id")
        n_victims = victims.count()
        m = merge_shards(
            docs.limit(0), path, id_col="doc_id", delete_ids=victims
        ).toPandas()
        row = m[m.shard == 2].iloc[0]
        assert row.rows == 0 and row.files == 0  # explicit tombstone
        back = read_shards(spark, path)
        assert back.count() == docs.count() - n_victims
        assert back.filter(F.col("shard") == 2).count() == 0
        cur = open(os.path.join(path, "_CURRENT")).read()
        man = json.load(
            open(os.path.join(path, "_manifests", f"{cur}.json"))
        )
        assert "2" not in man["batches_by_shard"]


class TestConcurrentWriters:
    def test_manifest_race_loser_aborts_no_data_loss(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """VERDICT r11 #2 acceptance: two concurrent full rewrites — the
        writer whose flip comes second ABORTS with a clear error and the
        winner's published rows survive intact (uuid batch tokens keep
        the writers' files collision-free, so the loser never clobbers
        the winner). keep_versions=2 so the winner's GC retains the
        snapshot the loser is still reading — with retention 1 the loser
        instead dies mid-read on the GC'd files (louder, earlier, still
        no silent loss)."""
        import docarray_spark.sources.writers as W

        path = str(tmp_path / "race")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest",
            keep_versions=2,
        )
        real = W._shard_layout_write
        state = {"fired": False}

        def interleaved(*args, **kwargs):
            if not state["fired"]:
                state["fired"] = True
                # the OTHER writer publishes completely while this one
                # is mid-publish (resolved the old pointer already)
                inner = docs.withColumn("text", F.lit("WINNER"))
                merge_shards(inner, path, id_col="doc_id")
            return real(*args, **kwargs)

        monkeypatch.setattr(W, "_shard_layout_write", interleaved)
        loser = docs.withColumn("text", F.lit("LOSER"))
        with pytest.raises(RuntimeError, match="concurrent writer"):
            merge_shards(loser, path, id_col="doc_id")
        monkeypatch.setattr(W, "_shard_layout_write", real)
        back = read_shards(spark, path)
        assert back.count() == docs.count()
        assert back.filter(F.col("text") == "WINNER").count() == docs.count()
        assert back.filter(F.col("text") == "LOSER").count() == 0
        # loser's orphan is swept by the next publish
        merge_shards(docs.limit(1), path, id_col="doc_id")
        seqs = sorted(
            d.split("_")[2] for d in os.listdir(path) if d.startswith("_b_")
        )
        assert len(seqs) == len(set(seqs))  # one batch per sequence

class TestReviewFindings:
    """r12 review pass over the v3/concurrency code: six findings, each
    pinned here."""

    def test_stale_resolve_publish_aborts_manifest(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """Finding 1 (headline): the optimistic check must anchor to the
        pointer the writer RESOLVED ITS DATA against, not a publish-time
        re-read — a concurrent publish inside the resolve→publish window
        (the affected-shard collect, the merge plan) must abort the late
        writer, else its snapshot silently reverts the winner's rows."""
        import docarray_spark.sources.writers as W

        path = str(tmp_path / "stale")
        save_shards(
            docs, path, n_shards=N, id_col="doc_id", swap_mode="manifest",
            keep_versions=2,
        )
        real = W._manifest_read
        state = {"fired": False}

        def interleaved(*args, **kwargs):
            if not state["fired"]:
                state["fired"] = True
                merge_shards(
                    docs.withColumn("text", F.lit("WINNER")), path,
                    id_col="doc_id",
                )
            return real(*args, **kwargs)

        # the patch fires inside the LOSER's current-shard read — i.e.
        # after it resolved cur_ptr but before it publishes
        monkeypatch.setattr(W, "_manifest_read", interleaved)
        batches_before = None
        with pytest.raises(RuntimeError, match="resolved its input snapshot"):
            batch = docs.filter(F.col("doc_id") < 5).withColumn(
                "text", F.lit("LOSER")
            )
            merge_shards(batch, path, id_col="doc_id")
        monkeypatch.setattr(W, "_manifest_read", real)
        back = read_shards(spark, path)
        assert back.filter(F.col("text") == "WINNER").count() == docs.count()
        assert back.filter(F.col("text") == "LOSER").count() == 0
        # the loser aborted BEFORE writing: no orphan batch beyond the
        # winner's two snapshots
        batches = [d for d in os.listdir(path) if d.startswith("_b_")]
        assert len(batches) == 2, batches

    def test_emptied_shard_read_returns_empty_frame(
        self, spark, docs, tmp_path
    ):
        """Finding 2: a dataloader rank assigned a tombstoned shard gets
        an EMPTY frame with the snapshot's schema — same contract as
        pointer/rename exports — not a crash."""
        path = str(tmp_path / "emptyrank")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        victims = docs.select(
            "doc_id", shard_col("doc_id", 4).alias("s")
        ).filter(F.col("s") == 2).select("doc_id")
        merge_shards(docs.limit(0), path, id_col="doc_id",
                     delete_ids=victims)
        rank2 = read_shards(spark, path, shards=[2])
        assert rank2.count() == 0
        assert set(docs.columns) | {"shard"} == set(rank2.columns)

    def test_crashed_snapshot_is_not_a_version(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """Finding 3: a crashed never-flipped attempt (newer than
        current) must not appear in shard_versions nor be pinnable —
        its manifest and batch EXIST on disk; serving them would be
        silent partial data. (The legacy ``_v_`` form is pinned in
        TestVersionPinning::test_pointer_mode_version_pin.)"""
        import docarray_spark.sources.registry as registry

        path = str(tmp_path / "manifest")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        orig = registry._write_text

        def dying(p, text, spark=None):
            if p.endswith("_CURRENT"):
                raise RuntimeError("injected crash")
            return orig(p, text, spark)

        monkeypatch.setattr(registry, "_write_text", dying)
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_shards(
                docs.withColumn("text", F.upper("text")), path,
                id_col="doc_id",
            )
        monkeypatch.setattr(registry, "_write_text", orig)
        v = shard_versions(path)
        assert v["current"] == 1 and v["versions"] == [1], v
        with pytest.raises(ValueError, match="not retained"):
            read_shards(spark, path, version=2)

    def test_string_version_pin_stale_gets_clear_error(
        self, spark, docs, tmp_path
    ):
        """Finding 4: a stored full manifest NAME whose snapshot aged
        out of retention raises the actionable not-retained error, not a
        raw file-not-found from _load_manifest."""
        path = str(tmp_path / "strpin")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        name1 = open(os.path.join(path, "_CURRENT")).read().strip()
        merge_shards(docs.withColumn("text", F.upper("text")), path)
        merge_shards(docs.withColumn("text", F.lower("text")), path)
        with pytest.raises(ValueError, match="not retained"):
            read_shards(spark, path, version=name1)
        # a RETAINED name still resolves
        cur = open(os.path.join(path, "_CURRENT")).read().strip()
        assert read_shards(spark, path, version=cur).count() == docs.count()

    def test_compact_heals_crashed_rename_swap(self, spark, docs, tmp_path):
        """Finding 5: compact_shards on a rename-mode export parked
        mid-swap by a crashed merge heals it (same _recover_swap as
        merge_shards) instead of claiming the sidecar is missing."""
        from docarray_spark.sources import compact_shards

        path = str(tmp_path / "heal")
        save_shards(docs, path, n_shards=4, id_col="doc_id")
        os.rename(path, path + ".__old__")  # crash window simulation
        os.makedirs(path + ".__rewrite__")
        m = compact_shards(spark, path).toPandas()
        assert m.rows.sum() == docs.count()
        assert not os.path.isdir(path + ".__old__")
        assert read_shards(spark, path).count() == docs.count()


class TestMigrationsAndAuto:
    def test_append_auto_follows_established_mode(self, spark, docs, tmp_path):
        """ADVICE r11 #1: save_shards(mode='append', swap_mode='auto')
        on a manifest export must NOT resolve from the filesystem scheme
        (rename on local) — it follows the stored mode, so the appended
        rows are visible behind the pointer."""
        path = str(tmp_path / "autoptr")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        extra = spark.createDataFrame(
            [(900001, "fresh", "en", "web", 5)], docs.schema
        )
        save_shards(extra, path, mode="append")  # auto, knobs from sidecar
        assert not any(
            d.startswith("shard=") for d in os.listdir(path)
        )  # nothing appended at the ROOT
        back = read_shards(spark, path)
        assert back.count() == docs.count() + 1
        assert back.filter(F.col("doc_id") == 900001).count() == 1
        # sidecar NOT poisoned by the append (ADVICE r11 #2)
        sidecar = json.load(open(os.path.join(path, "_shard_layout.json")))
        assert sidecar["swap_mode"] == "manifest"

    def test_append_validates_layout_against_sidecar(
        self, spark, docs, tmp_path
    ):
        """ADVICE r11 #2: append with contradicting layout knobs raises
        instead of scattering rows wrong and rewriting the sidecar."""
        path = str(tmp_path / "strictapp")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", files_per_shard=2
        )
        with pytest.raises(ValueError, match="n_shards"):
            save_shards(
                docs.limit(1), path, n_shards=8, id_col="doc_id",
                mode="append",
            )
        with pytest.raises(ValueError, match="files_per_shard"):
            save_shards(
                docs.limit(1), path, files_per_shard=1, mode="append"
            )
        sidecar = json.load(open(os.path.join(path, "_shard_layout.json")))
        assert sidecar["n_shards"] == 4 and sidecar["files_per_shard"] == 2

    def test_overwrite_migrations_between_modes(
        self, spark, docs, tmp_path, legacy_pointer_export
    ):
        """Explicit overwrite re-exports migrate layout families cleanly
        in both directions — no stale pointer artifacts left behind."""
        path = str(tmp_path / "mig")
        save_shards(docs, path, n_shards=4, id_col="doc_id")  # rename
        # rename -> manifest
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        assert shard_versions(path)["mode"] == "manifest"
        assert not any(d.startswith("shard=") for d in os.listdir(path))
        assert read_shards(spark, path).count() == docs.count()
        # manifest -> rename: pointer artifacts dropped
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="rename"
        )
        assert shard_versions(path)["mode"] == "rename"
        assert not os.path.exists(os.path.join(path, "_CURRENT"))
        assert not any(d.startswith("_b_") for d in os.listdir(path))
        assert read_shards(spark, path).count() == docs.count()
        # legacy pointer -> manifest via merge (full rewrite migrates)
        p2 = legacy_pointer_export(str(tmp_path / "mig2"), [docs], 4)
        os.remove(os.path.join(p2, "_shard_layout.json"))  # pre-sidecar
        merge_shards(
            docs.withColumn("text", F.upper("text")), p2, n_shards=4,
            id_col="doc_id", swap_mode="manifest",
        )
        assert shard_versions(p2)["mode"] == "manifest"
        assert not any(d.startswith("_v_") for d in os.listdir(p2))
        back = read_shards(spark, p2)
        assert back.count() == docs.count()
        assert back.filter(F.col("text") != F.upper("text")).count() == 0

    def test_overwrite_auto_keeps_established_family(
        self, spark, docs, tmp_path
    ):
        """A knob-less refresh (overwrite, swap auto) of a manifest
        export stays manifest — no silent migration to the filesystem
        scheme's default."""
        path = str(tmp_path / "keepfam")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        save_shards(docs, path, n_shards=4, id_col="doc_id")  # refresh
        assert shard_versions(path)["mode"] == "manifest"
        assert read_shards(spark, path).count() == docs.count()


class TestCompaction:
    def test_compact_collapses_append_history(self, spark, docs, tmp_path):
        """Three zero-copy appends → three extra batch dirs and 4-deep
        per-shard batch lists; compact_shards republishes the snapshot
        as ONE batch, rows and content_sum unchanged."""
        from docarray_spark.sources import compact_shards

        path = str(tmp_path / "cpt")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        for i in range(3):
            extra = spark.createDataFrame(
                [(900001 + i, f"fresh {i}", "en", "web", 7)], docs.schema
            )
            save_shards(extra, path, mode="append")
        assert len([d for d in os.listdir(path) if d.startswith("_b_")]) == 4
        before = read_shards(spark, path)
        n_before = before.count()
        m = compact_shards(spark, path).toPandas()
        assert len([d for d in os.listdir(path) if d.startswith("_b_")]) == 1
        cur = open(os.path.join(path, "_CURRENT")).read()
        man = json.load(
            open(os.path.join(path, "_manifests", f"{cur}.json"))
        )
        assert all(len(bl) == 1 for bl in man["batches_by_shard"].values())
        back = read_shards(spark, path)
        assert back.count() == n_before == m.rows.sum()
        assert back.filter(F.col("doc_id") >= 900001).count() == 3
        # content_sum is layout-independent: compaction changed nothing
        ref = save_shards(
            back.drop("shard"), str(tmp_path / "ref"), n_shards=4,
            id_col="doc_id", swap_mode="rename",
        ).toPandas()
        cols = ["shard", "rows", "id_min", "id_max", "content_sum"]
        assert m[cols].reset_index(drop=True).equals(
            ref[cols].reset_index(drop=True)
        )

    def test_compact_pointer_and_rename_modes(self, spark, docs, tmp_path):
        """Compaction works on the rename layout too: appends at the
        root collapse back to the files_per_shard contract. (Compacting
        a legacy pointer export migrates it — test_shards_pointer.py::
        TestPointerMode::test_manifest_matches_rename_mode.)"""
        from docarray_spark.sources import compact_shards
        from docarray_spark.sources.writers import _shard_sizes

        path = str(tmp_path / "rename")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="rename"
        )
        extra = spark.createDataFrame(
            [(900001, "fresh", "en", "web", 5)], docs.schema
        )
        save_shards(extra, path, mode="append")
        m = compact_shards(spark, path).toPandas()
        assert m.rows.sum() == docs.count() + 1
        sizes = _shard_sizes(resolve_shards_path(path, spark), spark)
        assert all(v[0] == 1 for v in sizes.values())  # 1 file/shard
        assert read_shards(spark, path).count() == docs.count() + 1

    def test_compact_requires_sidecar_and_keeps_layout(
        self, spark, docs, tmp_path
    ):
        from docarray_spark.sources import compact_shards

        path = str(tmp_path / "nos")
        save_shards(docs, path, n_shards=4, id_col="doc_id")
        os.remove(os.path.join(path, "_shard_layout.json"))
        with pytest.raises(ValueError, match="sidecar"):
            compact_shards(spark, path)
        # multi-file layout survives compaction (sidecar-driven)
        p2 = str(tmp_path / "multi")
        save_shards(
            docs, p2, n_shards=4, id_col="doc_id", files_per_shard=2,
            swap_mode="manifest",
        )
        compact_shards(spark, p2)
        sidecar = json.load(open(os.path.join(p2, "_shard_layout.json")))
        assert sidecar["files_per_shard"] == 2
        ref = save_shards(
            docs, str(tmp_path / "refm"), n_shards=4, id_col="doc_id",
            files_per_shard=2,
        ).toPandas()
        b = [d for d in os.listdir(p2) if d.startswith("_b_")]
        assert len(b) == 1
        from docarray_spark.sources.writers import _shard_sizes

        sizes = _shard_sizes(os.path.join(p2, b[0]), spark)
        assert [sizes[s][0] for s in sorted(sizes)] == ref["files"].tolist()


class TestStreamingManifest:
    def test_stream_merge_converges_on_manifest_export(
        self, spark, docs, tmp_path
    ):
        """stream_merge_shards against a manifest export publishes
        per-batch snapshots and converges to the batch save_shards
        result (mirror of the rename-mode passthrough pin)."""
        from docarray_spark.streaming import read_stream, stream_merge_shards

        path = str(tmp_path / "sms")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        src = str(tmp_path / "src")
        docs.withColumn("text", F.upper("text")).write.parquet(src)
        sdf = read_stream(spark, src, schema=docs.schema)
        q = stream_merge_shards(
            sdf, path,
            checkpoint=str(tmp_path / "ckpt"),
            full_rewrite_at=0.0,
        )
        q.awaitTermination(120)
        assert shard_versions(path)["mode"] == "manifest"
        back = read_shards(spark, path)
        assert back.count() == docs.count()
        assert back.filter(F.col("text") != F.upper("text")).count() == 0


class TestCompactAt:
    """r12: amortized append compaction — ``save_shards(mode='append',
    compact_at=B)`` folds any shard whose batch list reached B into the
    new batch, capping every shard's reader fan-out at B scans."""

    @staticmethod
    def _batch_map(path):
        cur = open(os.path.join(path, "_CURRENT")).read().strip()
        with open(os.path.join(path, "_manifests", f"{cur}.json")) as f:
            return json.load(f)["batches_by_shard"]

    def test_fanout_stays_bounded(self, spark, tmp_path):
        """Five appends under compact_at=2: after every one, no shard
        lists more than 2 batches and the served rows are exactly the
        accumulated corpus."""
        path = str(tmp_path / "bound")
        mk = lambda lo, hi: spark.createDataFrame(
            [(i, f"t{i}") for i in range(lo, hi)], "doc_id long, text string"
        )
        save_shards(
            mk(0, 30), path, n_shards=4, id_col="doc_id",
            swap_mode="manifest",
        )
        expect = 30
        folded_once = False
        for k in range(5):
            lo = 100 + 10 * k
            save_shards(mk(lo, lo + 4), path, mode="append", compact_at=2)
            expect += 4
            bm = self._batch_map(path)
            assert max(len(bl) for bl in bm.values()) <= 2, bm
            folded_once = folded_once or any(
                len(bl) == 1 for bl in bm.values()
            )
            back = read_shards(spark, path)
            assert back.count() == expect
        assert folded_once  # the threshold actually fired
        # with keep_versions=1, fold + GC keeps disk bounded: live
        # batches are only the ones the current manifest references
        live = {b for bl in self._batch_map(path).values() for b in bl}
        on_disk = {d for d in os.listdir(path) if d.startswith("_b_")}
        assert on_disk == live

    def test_below_threshold_append_stays_zero_copy(self, spark, tmp_path):
        """An append that folds nothing must not rewrite any existing
        file (the zero-copy contract is untouched below the cap)."""
        path = str(tmp_path / "zc")
        df0 = spark.createDataFrame(
            [(i, "x") for i in range(20)], "doc_id long, text string"
        )
        save_shards(
            df0, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        pre = _file_states(path)
        one = spark.createDataFrame([(99, "y")], "doc_id long, text string")
        save_shards(one, path, mode="append", compact_at=5)
        post = _file_states(path)
        assert all(post[p] == st for p, st in pre.items())

    def test_fold_is_snapshot_isolated(self, spark, tmp_path):
        """A reader pinned before a folding append keeps the pre-fold
        rows under keep_versions=2."""
        path = str(tmp_path / "iso")
        mk = lambda lo, hi, t: spark.createDataFrame(
            [(i, t) for i in range(lo, hi)], "doc_id long, text string"
        )
        save_shards(
            mk(0, 20, "a"), path, n_shards=4, id_col="doc_id",
            swap_mode="manifest", keep_versions=2,
        )
        save_shards(mk(20, 24, "b"), path, mode="append")  # lists at 2
        pin = shard_versions(path)["current"]
        save_shards(mk(24, 28, "c"), path, mode="append", compact_at=2)
        pinned = read_shards(spark, path, version=pin)
        assert pinned.count() == 24
        assert pinned.filter(F.col("text") == "c").count() == 0
        assert read_shards(spark, path).count() == 28

    def test_compact_at_validation(self, spark, docs, tmp_path):
        p1 = str(tmp_path / "v1")
        with pytest.raises(ValueError, match="compact_at applies only"):
            save_shards(
                docs, p1, n_shards=4, id_col="doc_id",
                swap_mode="manifest", compact_at=2,
            )
        p2 = str(tmp_path / "v2")
        save_shards(
            docs, p2, n_shards=4, id_col="doc_id", swap_mode="rename"
        )
        with pytest.raises(ValueError, match="compact_at applies only"):
            save_shards(docs.limit(2), p2, mode="append", compact_at=2)
        p3 = str(tmp_path / "v3")
        save_shards(
            docs, p3, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        with pytest.raises(ValueError, match="must be >= 1"):
            save_shards(docs.limit(2), p3, mode="append", compact_at=0)


class TestManifestScope:
    """r12: manifest_scope='batch' keeps an append O(batch) — the
    default 'snapshot' read-back verifies the whole export (content
    sums over every row), which the 1M probe measured growing the
    per-append wall with corpus size."""

    def test_batch_scope_returns_delta_rows(self, spark, tmp_path):
        path = str(tmp_path / "delta")
        mk = lambda lo, n, t: spark.createDataFrame(
            [(i, t) for i in range(lo, lo + n)], "doc_id long, text string"
        )
        save_shards(
            mk(0, 30, "a"), path, n_shards=4, id_col="doc_id",
            swap_mode="manifest",
        )
        m = save_shards(
            mk(100, 4, "b"), path, mode="append", manifest_scope="batch"
        ).toPandas()
        assert m.rows.sum() == 4  # the appended delta, not the snapshot
        snap = save_shards(
            mk(200, 4, "c"), path, mode="append"
        ).toPandas()
        assert snap.rows.sum() == 38  # default scope still full-snapshot
        assert read_shards(spark, path).count() == 38

    def test_batch_scope_covers_folded_shards_fully(self, spark, tmp_path):
        """Under compact_at, a folded shard's batch-scope row covers its
        complete content (the fold wrote all of it into the batch)."""
        path = str(tmp_path / "foldrow")
        mk = lambda lo, n, t: spark.createDataFrame(
            [(i, t) for i in range(lo, lo + n)], "doc_id long, text string"
        )
        save_shards(
            mk(0, 30, "a"), path, n_shards=4, id_col="doc_id",
            swap_mode="manifest",
        )
        save_shards(mk(100, 8, "b"), path, mode="append")  # lists at 2
        m = save_shards(
            mk(200, 8, "c"), path, mode="append", compact_at=2,
            manifest_scope="batch",
        ).toPandas()
        # every shard folded (all were at the cap): the batch holds the
        # whole corpus, so delta rows sum to it
        assert m.rows.sum() == 46
        assert read_shards(spark, path).count() == 46

    def test_batch_scope_empty_append(self, spark, tmp_path):
        path = str(tmp_path / "emptyapp")
        df0 = spark.createDataFrame(
            [(i, "x") for i in range(10)], "doc_id long, text string"
        )
        save_shards(
            df0, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        m = save_shards(
            df0.limit(0), path, mode="append", manifest_scope="batch"
        ).toPandas()
        assert m.rows.sum() == 0
        assert read_shards(spark, path).count() == 10

    def test_manifest_scope_validation(self, spark, docs, tmp_path):
        p1 = str(tmp_path / "ms1")
        with pytest.raises(ValueError, match="manifest_scope='batch' applies"):
            save_shards(
                docs, p1, n_shards=4, id_col="doc_id",
                swap_mode="manifest", manifest_scope="batch",
            )
        p2 = str(tmp_path / "ms2")
        save_shards(
            docs, p2, n_shards=4, id_col="doc_id", swap_mode="rename"
        )
        with pytest.raises(ValueError, match="manifest_scope='batch' applies"):
            save_shards(
                docs.limit(2), p2, mode="append", manifest_scope="batch"
            )
        p3 = str(tmp_path / "ms3")
        save_shards(
            docs, p3, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        with pytest.raises(ValueError, match="must be 'snapshot' or 'batch'"):
            save_shards(
                docs.limit(2), p3, mode="append", manifest_scope="full"
            )


class TestStreamingAppend:
    """r12: stream_merge_shards(mode='append') — zero-copy O(batch)
    snapshot publishes per micro-batch with exactly-once replay
    skipping keyed on (checkpoint identity, batch id) in the manifest
    meta."""

    @staticmethod
    def _mk_rows(spark, lo, n, t):
        return spark.createDataFrame(
            [(i, t) for i in range(lo, lo + n)], "doc_id long, text string"
        )

    @staticmethod
    def _drain(spark, q):
        """availableNow termination races its deregistration from the
        active-query list; a follow-up query on the SAME checkpoint
        must wait for the deregister or Spark rejects it as concurrent."""
        import time

        q.awaitTermination(120)
        for _ in range(300):
            if all(x.id != q.id for x in spark.streams.active):
                return
            time.sleep(0.1)

    def test_append_stream_exactly_once(self, spark, tmp_path):
        import shutil

        from docarray_spark.streaming import read_stream, stream_merge_shards

        path = str(tmp_path / "sapp")
        save_shards(
            self._mk_rows(spark, 0, 30, "base"), path, n_shards=4,
            id_col="doc_id", swap_mode="manifest",
        )
        src = str(tmp_path / "src")
        for k in range(3):
            # ONE part-file per write: each becomes exactly one
            # micro-batch under maxFilesPerTrigger=1, so the LAST batch
            # is a data batch and its commit marker is the newest one
            self._mk_rows(spark, 100 + 10 * k, 5, f"b{k}").repartition(
                1
            ).write.mode("append").parquet(src)
        ck = str(tmp_path / "ckpt")
        sdf = read_stream(
            spark, src, schema="doc_id long, text string",
            max_files_per_trigger=1,
        )
        q = stream_merge_shards(
            sdf, path, checkpoint=ck, mode="append", compact_at=3
        )
        self._drain(spark, q)
        assert read_shards(spark, path).count() == 45
        cur = open(os.path.join(path, "_CURRENT")).read().strip()
        with open(os.path.join(path, "_manifests", f"{cur}.json")) as f:
            man = json.load(f)
        tok = open(os.path.join(ck, "_shard_stream_identity")).read().strip()
        assert man["meta"]["stream_app_id"] == tok
        last_id = man["meta"]["stream_batch_id"]
        commits = [
            int(n) for n in os.listdir(os.path.join(ck, "commits"))
            if n.isdigit()
        ]
        # the newest commit must be the batch the manifest recorded —
        # deleting a MID-log commit would instead look like a log gap
        assert last_id == max(commits)
        assert max(
            len(bl) for bl in man["batches_by_shard"].values()
        ) <= 3
        # at-least-once replay: drop the final batch's commit marker so
        # a restarted query re-executes it with the SAME batch id — the
        # manifest-meta guard must skip the publish (no duplicate rows)
        os.remove(os.path.join(ck, "commits", str(last_id)))
        crc = os.path.join(ck, "commits", f".{last_id}.crc")
        if os.path.exists(crc):  # Hadoop LocalFS checksum sidecar — a
            os.remove(crc)  # stale one makes the re-create look like a
            # concurrent writer (FileAlreadyExists on the crc)
        sdf2 = read_stream(
            spark, src, schema="doc_id long, text string",
            max_files_per_trigger=1,
        )
        q2 = stream_merge_shards(
            sdf2, path, checkpoint=ck, mode="append", compact_at=3
        )
        self._drain(spark, q2)
        assert read_shards(spark, path).count() == 45  # no re-append
        # a FRESH checkpoint restarts batch ids at 0 — different app
        # identity, so its appends must NOT be suppressed
        src2 = str(tmp_path / "src2")
        self._mk_rows(spark, 500, 4, "new").write.parquet(src2)
        sdf3 = read_stream(spark, src2, schema="doc_id long, text string")
        q3 = stream_merge_shards(
            sdf3, path, checkpoint=str(tmp_path / "ckpt2"), mode="append"
        )
        q3.awaitTermination(120)
        assert read_shards(spark, path).count() == 49
        shutil.rmtree(src2)

    def test_append_stream_fresh_init_forces_manifest(self, spark, tmp_path):
        from docarray_spark.streaming import read_stream, stream_merge_shards

        path = str(tmp_path / "sfresh")
        src = str(tmp_path / "srcf")
        self._mk_rows(spark, 0, 12, "a").write.parquet(src)
        sdf = read_stream(spark, src, schema="doc_id long, text string")
        q = stream_merge_shards(
            sdf, path, n_shards=4, id_col="doc_id",
            checkpoint=str(tmp_path / "ckf"), mode="append",
        )
        q.awaitTermination(120)
        assert shard_versions(path)["mode"] == "manifest"
        assert read_shards(spark, path).count() == 12

    def test_append_mode_validation(self, spark):
        from docarray_spark.streaming import stream_merge_shards

        with pytest.raises(ValueError, match="mode must be"):
            stream_merge_shards(None, "/tmp/x", mode="upsert")
        with pytest.raises(ValueError, match="swap_mode must be 'manifest'"):
            stream_merge_shards(None, "/tmp/x", mode="append",
                                swap_mode="rename")
        with pytest.raises(ValueError, match="append-mode fold threshold"):
            stream_merge_shards(None, "/tmp/x", compact_at=3)


class TestLineage:
    """r12: manifests record their predecessor ("prev") — retention,
    version listing, and pin resolution walk the lineage chain, so an
    off-chain manifest (lost-race orphan, crashed attempt) can never
    steal a retention slot or serve a pin, whatever its sequence."""

    def test_orphan_manifest_never_resolves(self, spark, docs, tmp_path):
        import shutil

        path = str(tmp_path / "lin")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest",
            keep_versions=3,
        )
        merge_shards(docs.withColumn("text", F.upper("text")), path)
        # hand-craft a lost-race orphan at sequence 2: same seq as the
        # retained published snapshot, lexically LAST token (the old
        # tie-break would have picked it)
        mdir = os.path.join(path, "_manifests")
        pub2 = [n for n in os.listdir(mdir) if n.startswith("_m_0000000002")]
        assert len(pub2) == 1
        orphan = "_m_0000000002_zzzzzzzz.json"
        shutil.copy(os.path.join(mdir, pub2[0]), os.path.join(mdir, orphan))
        v = shard_versions(path)
        assert v["versions"] == [1, 2]  # orphan invisible
        got = read_shards(spark, path, version=2)
        assert got.filter(F.col("text") != F.upper("text")).count() == 0
        with pytest.raises(ValueError, match="not retained"):
            read_shards(spark, path, version=orphan[:-5])
        # next publish GC-sweeps the orphan (off-chain)
        merge_shards(docs.limit(1), path, id_col="doc_id")
        assert orphan not in os.listdir(mdir)

    def test_chain_survives_retention_walk(self, spark, docs, tmp_path):
        path = str(tmp_path / "chain")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest",
            keep_versions=3,
        )
        for k in range(4):
            merge_shards(
                docs.limit(2).withColumn("text", F.lit(f"v{k}")), path
            )
        assert shard_versions(path)["versions"] == [3, 4, 5]
        assert read_shards(spark, path, version=3).count() == docs.count()


class TestReviewFindingsR12b:
    """Second r12 review pass (over the append/lineage/streaming work):
    seven findings, pinned here (the chain-walk error propagation is
    structural — no injection test)."""

    def _mk(self, spark, lo, n, t, schema="doc_id long, text string"):
        return spark.createDataFrame(
            [(i, t) for i in range(lo, lo + n)], schema
        )

    def test_recreated_checkpoint_not_suppressed(self, spark, tmp_path):
        """Finding 1: identity is a token INSIDE the checkpoint dir —
        deleting and recreating the checkpoint at the same path must
        re-process from scratch (appends happen; duplicates are the
        documented append-mode semantics), never silently drop
        batches."""
        import shutil

        from docarray_spark.streaming import read_stream, stream_merge_shards

        path = str(tmp_path / "ckid")
        save_shards(
            self._mk(spark, 0, 20, "base"), path, n_shards=4,
            id_col="doc_id", swap_mode="manifest",
        )
        src = str(tmp_path / "src")
        self._mk(spark, 100, 6, "s").repartition(1).write.parquet(src)
        ck = str(tmp_path / "ck")
        for expected in (26, 32):  # second pass re-appends (dup rows)
            sdf = read_stream(spark, src, schema="doc_id long, text string")
            q = stream_merge_shards(sdf, path, checkpoint=ck, mode="append")
            q.awaitTermination(120)
            got = read_shards(spark, path).count()
            assert got == expected, (expected, got)
            shutil.rmtree(ck)

    def test_overwrite_refresh_inherits_keep_versions(
        self, spark, docs, tmp_path
    ):
        """Finding 2: an overwrite refresh with keep_versions UNSET must
        inherit the stored retention, not reset it to 1 and GC the
        snapshots pinned readers depend on."""
        path = str(tmp_path / "kvkeep")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest",
            keep_versions=3,
        )
        merge_shards(docs.withColumn("text", F.upper("text")), path)
        save_shards(docs, path, n_shards=4, id_col="doc_id")  # refresh
        sidecar = json.load(open(os.path.join(path, "_shard_layout.json")))
        assert sidecar["keep_versions"] == 3
        v = shard_versions(path)
        assert v["versions"] == [1, 2, 3]  # prior snapshots retained
        assert read_shards(spark, path, version=2).count() == docs.count()

    def test_append_schema_drift_raises(self, spark, tmp_path):
        """Finding 3: a schema-drifted append must raise BEFORE
        publishing — a published drifted batch bricks every snapshot
        read at union time."""
        path = str(tmp_path / "drift")
        save_shards(
            self._mk(spark, 0, 20, "a"), path, n_shards=4, id_col="doc_id",
            swap_mode="manifest",
        )
        bad = spark.createDataFrame(
            [(100, "x", "en")], "doc_id long, text string, lang string"
        )
        for scope in ("snapshot", "batch"):
            with pytest.raises(ValueError, match="do not match the export"):
                save_shards(bad, path, mode="append", manifest_scope=scope)
        assert read_shards(spark, path).count() == 20  # nothing published

    def test_sidecar_written_before_publish(
        self, spark, docs, tmp_path, monkeypatch
    ):
        """Finding 5: the layout sidecar lands BEFORE the publish, so a
        crash at the pointer flip leaves an export whose knob-less
        appends still resolve the layout instead of wedging on
        'n_shards is required'."""
        import docarray_spark.sources.writers as W

        path = str(tmp_path / "precrash")

        def dying(*a, **k):
            raise RuntimeError("injected flip crash")

        monkeypatch.setattr(W, "_flip_pointer", dying)
        with pytest.raises(RuntimeError, match="injected flip crash"):
            save_shards(
                docs, path, n_shards=4, id_col="doc_id",
                swap_mode="manifest",
            )
        monkeypatch.undo()
        assert os.path.exists(os.path.join(path, "_shard_layout.json"))
        # knob-less append resolves the persisted layout and publishes
        save_shards(self._mk(spark, 0, 3, "x"), path, mode="append")
        assert read_shards(spark, path).count() == 3

    def test_stream_append_validates_layout_knobs(self, spark, tmp_path):
        """Finding 6: append mode forwards the caller's layout knobs so
        a contradiction raises like merge mode instead of being
        silently swallowed."""
        from docarray_spark.streaming import read_stream, stream_merge_shards

        path = str(tmp_path / "knobchk")
        save_shards(
            self._mk(spark, 0, 20, "a"), path, n_shards=4, id_col="doc_id",
            swap_mode="manifest",
        )
        src = str(tmp_path / "srck")
        self._mk(spark, 100, 3, "b").repartition(1).write.parquet(src)
        sdf = read_stream(spark, src, schema="doc_id long, text string")
        q = stream_merge_shards(
            sdf, path, n_shards=8, checkpoint=str(tmp_path / "ckk"),
            mode="append",
        )
        with pytest.raises(Exception, match="n_shards"):
            q.awaitTermination(120)
        assert read_shards(spark, path).count() == 20

    def test_mode_error_and_ignore_on_snapshot_layouts(
        self, spark, docs, tmp_path
    ):
        """Finding 7: Spark's errorifexists/ignore writer contract holds
        on the manifest layout — no silent full rewrite."""
        path = str(tmp_path / "mode_manifest")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", swap_mode="manifest"
        )
        v_before = shard_versions(path)["current"]
        with pytest.raises(ValueError, match="already exists"):
            save_shards(
                docs.limit(3), path, n_shards=4, id_col="doc_id",
                swap_mode="manifest", mode="error",
            )
        m = save_shards(
            docs.limit(3), path, n_shards=4, id_col="doc_id",
            swap_mode="manifest", mode="ignore",
        ).toPandas()
        assert m.rows.sum() == docs.count()  # current corpus, no-op
        assert shard_versions(path)["current"] == v_before
        assert read_shards(spark, path).count() == docs.count()
        # fresh target: both behave like a first write
        p2 = str(tmp_path / "fresh_manifest")
        save_shards(
            docs.limit(5), p2, n_shards=2, id_col="doc_id",
            swap_mode="manifest", mode="error",
        )
        assert read_shards(spark, p2).count() == 5


class TestOptimisticRetry:
    """r12: merge_shards/compact_shards(retries=) — the Delta-style
    commit-retry: a ConcurrentPublishError abort re-runs the whole
    operation against the new current snapshot."""

    def test_merge_retries_after_lost_race(
        self, spark, docs, tmp_path, monkeypatch
    ):
        import docarray_spark.sources.writers as W
        from docarray_spark.sources import ConcurrentPublishError

        path = str(tmp_path / "retry")
        save_shards(
            docs, path, n_shards=N, id_col="doc_id", swap_mode="manifest",
            keep_versions=2,
        )
        real = W._manifest_read
        state = {"fired": False}

        def interleaved(*args, **kwargs):
            if not state["fired"]:
                state["fired"] = True
                merge_shards(
                    docs.withColumn("text", F.lit("WINNER")), path,
                    id_col="doc_id",
                )
            return real(*args, **kwargs)

        monkeypatch.setattr(W, "_manifest_read", interleaved)
        batch = docs.filter(F.col("doc_id") < 5).withColumn(
            "text", F.lit("LATE")
        )
        m = merge_shards(batch, path, id_col="doc_id", retries=1)
        monkeypatch.undo()
        assert len(m.toPandas()) >= 1  # second attempt published
        back = read_shards(spark, path)
        # the retry applied the late batch ON TOP of the winner's rows
        assert back.filter(F.col("text") == "LATE").count() == 5
        assert back.filter(
            F.col("text") == "WINNER"
        ).count() == docs.count() - 5
        # same race with retries=0 still aborts loudly
        state["fired"] = False
        monkeypatch.setattr(W, "_manifest_read", interleaved)
        with pytest.raises(ConcurrentPublishError):
            merge_shards(batch, path, id_col="doc_id")

    def test_compact_retries_after_lost_race(
        self, spark, docs, tmp_path, monkeypatch
    ):
        import docarray_spark.sources.writers as W
        from docarray_spark.sources import compact_shards

        path = str(tmp_path / "retryc")
        save_shards(
            docs, path, n_shards=N, id_col="doc_id", swap_mode="manifest",
            keep_versions=2,
        )
        save_shards(docs.limit(0).unionByName(
            spark.createDataFrame(
                [(900100, "fresh", "en", "web", 5)], docs.schema
            )
        ), path, mode="append")
        real = W._manifest_read
        state = {"fired": False}

        def interleaved(*args, **kwargs):
            if not state["fired"]:
                state["fired"] = True
                merge_shards(
                    docs.withColumn("text", F.lit("MID")), path,
                    id_col="doc_id",
                )
            return real(*args, **kwargs)

        monkeypatch.setattr(W, "_manifest_read", interleaved)
        m = compact_shards(spark, path, retries=1).toPandas()
        monkeypatch.undo()
        back = read_shards(spark, path)
        # compaction re-read AFTER the mid-flight merge: its snapshot
        # includes the merge's rows and the appended one
        assert back.count() == docs.count() + 1
        assert back.filter(F.col("text") == "MID").count() == docs.count()
        assert m.rows.sum() == docs.count() + 1
