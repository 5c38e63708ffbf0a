"""Round-11 shard-export hardening (VERDICT/ADVICE r10), and the legacy
format-v2 pointer layout.

Crash recovery for the rename-mode swap, layout knobs persisted in a
``_shard_layout.json`` sidecar (a forgetful merge can no longer collapse
a multi-file export), and an integer full-rewrite threshold (float
multiply flips the route at exact fractional thresholds).

Pointer exports (hidden ``_v_N/`` version dirs behind a one-line
``_CURRENT`` file) are no longer written — ``swap_mode`` is
``auto|rename|manifest``, one publish protocol per filesystem kind —
but existing ones still read, pin and list as before, and their first
merge or compaction migrates them to the manifest layout. Those tests
build the legacy layout by hand (the ``legacy_pointer_export`` fixture).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from docarray_spark.sources import (
    compact_shards,
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


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _files(root):
    """{relative path: (size, mtime)} of every file under root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.relpath(os.path.join(d, n), root)] = (
                st.st_size, st.st_mtime_ns,
            )
    return out


class TestPointerMode:
    """Legacy pointer exports, built by hand: a retained
    ``_v_0000000001/`` (the corpus) under the current
    ``_v_0000000002/`` (its text upper-cased)."""

    @pytest.fixture()
    def store(self, docs, tmp_path, legacy_pointer_export):
        path = str(tmp_path / "ptr")
        upper = docs.withColumn("text", F.upper("text"))
        return legacy_pointer_export(path, [docs, upper], N), upper

    @staticmethod
    def _assert_migrated(path):
        assert open(os.path.join(path, "_CURRENT")).read().startswith("_m_")
        sidecar = json.load(open(os.path.join(path, "_shard_layout.json")))
        assert sidecar["swap_mode"] == "manifest"
        assert sidecar["manifest_version"] == 3
        assert not any(d.startswith("_v_") for d in os.listdir(path))

    def test_save_layout_and_resolve(self, spark, docs, store):
        """The v2 layout reads as it always did: readers resolve
        ``_CURRENT`` to the live version dir, shard pruning reaches the
        scan, and both published versions are listed."""
        from docarray_spark.plans.audit import partition_filters

        path, upper = store
        assert resolve_shards_path(path, spark) == os.path.join(
            path, "_v_0000000002"
        )
        assert _rows(read_shards(spark, path), docs.columns) == _rows(
            upper, docs.columns
        )
        pruned = read_shards(spark, path, shards=[1, 2])
        want = docs.select(
            shard_col("doc_id", N).alias("s")
        ).filter(F.col("s").isin([1, 2])).count()
        assert pruned.count() == want
        assert partition_filters(pruned)
        assert shard_versions(path) == {
            "mode": "pointer", "current": 2, "versions": [1, 2],
        }

    def test_manifest_matches_rename_mode(self, spark, docs, store, tmp_path):
        """content_sum/rows are swap-layout independent: compacting a
        legacy export migrates it to a manifest snapshot whose manifest
        equals the rename-mode export of the same rows."""
        path, upper = store
        m = compact_shards(spark, path).toPandas()
        m_ren = save_shards(
            upper, str(tmp_path / "ren"), n_shards=N, id_col="doc_id",
            swap_mode="rename",
        ).toPandas()
        cols = ["shard", "rows", "id_min", "id_max", "content_sum"]
        assert m[cols].reset_index(drop=True).equals(
            m_ren[cols].reset_index(drop=True)
        )
        self._assert_migrated(path)
        assert _rows(read_shards(spark, path), docs.columns) == _rows(
            upper, docs.columns
        )

    def test_merge_migrates_to_manifest(self, spark, docs, store):
        """A partial merge publishes a full manifest snapshot of the
        merged rows and records the new layout, so the next append is a
        zero-copy manifest append."""
        path, upper = store
        batch = docs.filter(F.col("doc_id") < 5).withColumn(
            "text", F.lit("UPDATED")
        )
        m = merge_shards(batch, path).toPandas()
        assert len(m) == N  # every shard is in the migrated snapshot
        want = upper.withColumn(
            "text",
            F.when(F.col("doc_id") < 5, "UPDATED").otherwise(F.col("text")),
        )
        assert _rows(read_shards(spark, path), docs.columns) == _rows(
            want, docs.columns
        )
        self._assert_migrated(path)
        pre = _files(path)
        extra = spark.createDataFrame(
            [(900001, "fresh", "en", "web", 5)], docs.schema
        )
        save_shards(extra, path, mode="append")
        post = _files(path)
        assert all(
            post[p] == st for p, st in pre.items() if p.endswith(".parquet")
        )
        assert read_shards(spark, path).count() == docs.count() + 1

    def test_append_raises_and_writes_nothing(self, spark, docs, store):
        """An append onto an un-migrated export would publish a snapshot
        of only the new rows and GC the version dirs — it raises before
        writing, also when the sidecar already says manifest (an
        overwrite migration that died before its pointer flip). The
        overwrite the error points to then migrates the export."""
        path, upper = store
        extra = spark.createDataFrame(
            [(900001, "fresh", "en", "web", 5)], docs.schema
        )
        pre = _files(path)
        with pytest.raises(ValueError, match="layout migration goes through"):
            save_shards(extra, path, mode="append")
        assert _files(path) == pre
        sc_path = os.path.join(path, "_shard_layout.json")
        sidecar = json.load(open(sc_path))
        json.dump({**sidecar, "swap_mode": "manifest"}, open(sc_path, "w"))
        pre = _files(path)
        with pytest.raises(ValueError, match="not a manifest"):
            save_shards(extra, path, mode="append")
        assert _files(path) == pre
        assert _rows(read_shards(spark, path), docs.columns) == _rows(
            upper, docs.columns
        )
        save_shards(docs, path, n_shards=N, id_col="doc_id")
        self._assert_migrated(path)
        assert _rows(read_shards(spark, path), docs.columns) == _rows(
            docs, docs.columns
        )

    def test_pointer_swap_mode_rejected(self, spark, docs, tmp_path):
        from docarray_spark.streaming import stream_merge_shards

        target = str(tmp_path / "never")
        for call in (save_shards, merge_shards):
            with pytest.raises(ValueError, match=r"auto\|rename\|manifest"):
                call(docs, target, n_shards=4, id_col="doc_id",
                     swap_mode="pointer")
        with pytest.raises(ValueError, match=r"auto\|rename\|manifest"):
            stream_merge_shards(None, target, n_shards=4, swap_mode="pointer")
        assert not os.path.exists(target)


class TestRenameCrashRecovery:
    def test_restores_parked_old_export(self, spark, docs, tmp_path):
        """ADVICE r10: a hard death between rename(path -> .__old__) and
        rename(tmp -> path) leaves the live export ABSENT. merge_shards
        must detect and restore the parked old export before proceeding
        (the conservative mirror of the stale-leftover delete)."""
        path = str(tmp_path / "crashy")
        save_shards(docs, path, n_shards=4, id_col="doc_id")
        # simulate the crash window: live dir parked, finished rewrite
        # left behind as the temp sibling
        os.rename(path, path + ".__old__")
        os.makedirs(path + ".__rewrite__")
        batch = docs.withColumn("text", F.upper("text"))
        m = merge_shards(batch, path, id_col="doc_id").toPandas()
        assert len(m) == 4
        assert not os.path.isdir(path + ".__old__")
        assert not os.path.isdir(path + ".__rewrite__")
        back = spark.read.parquet(path)
        assert back.count() == docs.count()
        assert back.filter(F.col("text") != F.upper("text")).count() == 0


class TestLayoutSidecar:
    def test_merge_defaults_to_stored_layout(self, spark, docs, tmp_path):
        """ADVICE r10: merge without re-passed knobs must NOT collapse a
        files_per_shard=2 export to single-file layout — the sidecar
        supplies the stored values."""
        path = str(tmp_path / "multi")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", files_per_shard=2
        )
        batch = docs.withColumn("text", F.upper("text"))
        # no layout knobs, not even n_shards — everything from sidecar;
        # full rewrite (touches all shards) would have collapsed pre-r11
        m = merge_shards(batch, path).toPandas()
        assert len(m) == 4
        # same file scatter a fresh files_per_shard=2 export of the same
        # ids produces (sub-split is id-deterministic) — NOT collapsed
        ref = str(tmp_path / "ref")
        m_ref = save_shards(
            batch, ref, n_shards=4, id_col="doc_id", files_per_shard=2
        ).toPandas()
        assert m["files"].tolist() == m_ref["files"].tolist()
        assert (m["files"] > 1).any()
        assert spark.read.parquet(path).count() == docs.count()

    def test_explicit_mismatch_raises(self, spark, docs, tmp_path):
        path = str(tmp_path / "strict")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", files_per_shard=2
        )
        batch = docs.limit(3)
        with pytest.raises(ValueError, match="files_per_shard"):
            merge_shards(batch, path, files_per_shard=1)
        with pytest.raises(ValueError, match="n_shards"):
            merge_shards(batch, path, n_shards=8)
        with pytest.raises(ValueError, match="hash_method"):
            merge_shards(batch, path, hash_method="xxhash64")

    def test_legacy_export_without_sidecar(self, spark, docs, tmp_path):
        """Exports written before the sidecar existed: explicit knobs
        keep working; omitting n_shards is an error (nothing to load)."""
        path = str(tmp_path / "legacy")
        save_shards(docs, path, n_shards=4, id_col="doc_id")
        os.remove(os.path.join(path, "_shard_layout.json"))
        with pytest.raises(ValueError, match="n_shards is required"):
            merge_shards(docs.limit(3), path, id_col="doc_id")
        m = merge_shards(
            docs.limit(3).withColumn("text", F.lit("X")),
            path, n_shards=4, id_col="doc_id",
        ).toPandas()
        assert len(m) >= 1
        assert spark.read.parquet(path).filter(
            F.col("text") == "X"
        ).count() == 3

    def test_rename_full_rewrite_preserves_sidecar(
        self, spark, docs, tmp_path
    ):
        """The rename swap replaces the whole root dir — the sidecar must
        travel inside the swapped-in tree, not vanish."""
        path = str(tmp_path / "keep")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", files_per_shard=2
        )
        merge_shards(docs.withColumn("text", F.upper("text")), path)
        sidecar = json.load(open(os.path.join(path, "_shard_layout.json")))
        assert sidecar["files_per_shard"] == 2
        assert sidecar["n_shards"] == 4


class TestIntegerThreshold:
    def test_exact_fraction_fires_full_rewrite(self, spark, docs, tmp_path):
        """ADVICE r10: full_rewrite_at=7/25 with exactly 7 affected
        shards — float multiply gives 7.000000000000001, so the old
        ``len(affected) >= f * n`` compare silently took the COW route;
        the integer threshold fires the rewrite (manifest covers ALL
        shards, not just the touched 7)."""
        n = 25
        f = 7 / 25
        assert 7 < f * n  # the FP hazard this test pins
        path = str(tmp_path / "thr")
        save_shards(docs, path, n_shards=n, id_col="doc_id")
        assigned = docs.withColumn("s", shard_col("doc_id", n))
        batch = assigned.filter(F.col("s") < 7).drop("s").withColumn(
            "text", F.lit("REWRITE")
        )
        touched = {
            r.s for r in assigned.filter(F.col("s") < 7)
            .select("s").distinct().collect()
        }
        assert len(touched) == 7  # exactly at the fractional threshold
        m = merge_shards(batch, path, full_rewrite_at=f).toPandas()
        assert set(m.shard) == set(range(n))  # full-rewrite route taken


class TestStreamLayoutPassthrough:
    def test_stream_preserves_stored_layout(self, spark, docs, tmp_path):
        """stream_merge_shards with NO layout knobs against an existing
        multi-file export keeps the stored layout (sidecar-driven)."""
        from docarray_spark.streaming import read_stream, stream_merge_shards

        path = str(tmp_path / "sms")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id", files_per_shard=2
        )
        src = str(tmp_path / "src")
        docs.withColumn("text", F.upper("text")).write.parquet(src)
        sdf = read_stream(spark, src, schema=docs.schema)
        q = stream_merge_shards(
            sdf, path,
            checkpoint=str(tmp_path / "ckpt"),
            full_rewrite_at=0.0,  # force the rewrite route
        )
        q.awaitTermination(120)
        # same file scatter a fresh files_per_shard=2 export produces —
        # the stored layout survived the knob-less streaming merge
        ref = str(tmp_path / "ref")
        m_ref = save_shards(
            docs.withColumn("text", F.upper("text")), ref,
            n_shards=4, id_col="doc_id", files_per_shard=2,
        ).toPandas()
        from docarray_spark.sources.writers import _shard_sizes

        sizes = _shard_sizes(path, spark)
        assert [sizes[s][0] for s in sorted(sizes)] == m_ref["files"].tolist()
        assert any(v[0] > 1 for v in sizes.values())
        back = spark.read.parquet(path)
        assert back.count() == docs.count()
        assert back.filter(F.col("text") != F.upper("text")).count() == 0


class TestReadShards:
    def test_resolves_and_prunes_both_modes(self, spark, docs, tmp_path):
        """read_shards: one reader call for either swap mode, with the
        shard filter landing in PartitionFilters (a dataloader rank
        scans only its own shard=N dirs)."""
        from docarray_spark.plans.audit import partition_filters

        for mode in ("rename", "manifest"):
            path = str(tmp_path / mode)
            save_shards(
                docs, path, n_shards=4, id_col="doc_id", swap_mode=mode
            )
            back = read_shards(spark, path)
            assert back.count() == docs.count()
            pruned = read_shards(spark, path, shards=[1, 2])
            want = docs.select(
                shard_col("doc_id", 4).alias("s")
            ).filter(F.col("s").isin([1, 2])).count()
            assert pruned.count() == want
            pf = partition_filters(pruned)
            assert pf, f"{mode}: shard filter not pushed to the scan"


class TestVersionRetention:
    def test_append_pointer_onto_legacy_layout_raises(
        self, spark, docs, tmp_path
    ):
        """r11 self-review: a snapshot-layout append onto a rename-layout
        export would publish a snapshot holding ONLY the appended rows
        and GC the legacy shard dirs — silent data loss. Must raise.
        Since r12 save_shards append validates against the sidecar
        exactly like merge_shards (ADVICE r11 #2), so the contradiction
        check fires first; the root-dir migration guard still backstops
        sidecar-less legacy exports."""
        path = str(tmp_path / "legacyappend")
        save_shards(docs, path, n_shards=4, id_col="doc_id")  # rename
        with pytest.raises(ValueError, match="contradicts the export"):
            save_shards(
                docs, path, n_shards=4, id_col="doc_id",
                mode="append", swap_mode="manifest",
            )
        # pre-sidecar legacy export: the root shard-dir guard backstops
        os.remove(os.path.join(path, "_shard_layout.json"))
        with pytest.raises(ValueError, match="cannot migrate"):
            save_shards(
                docs, path, n_shards=4, id_col="doc_id",
                mode="append", swap_mode="manifest",
            )
        # the export is untouched
        assert spark.read.parquet(path).count() == docs.count()

    def test_keep_versions_override_without_raise(
        self, spark, docs, tmp_path
    ):
        """keep_versions is GC policy, not a layout contract: a merge
        may override it for one call without tripping the sidecar
        contradiction check or mutating the stored default."""
        path = str(tmp_path / "kvov")
        save_shards(
            docs, path, n_shards=4, id_col="doc_id",
            swap_mode="manifest", keep_versions=1,
        )
        merge_shards(
            docs.withColumn("text", F.upper("text")), path, keep_versions=2
        )
        assert shard_versions(path)["versions"] == [1, 2]  # retained
        sidecar = json.load(open(os.path.join(path, "_shard_layout.json")))
        assert sidecar["keep_versions"] == 1  # stored default unchanged
