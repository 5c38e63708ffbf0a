"""Stateful model walk over the shard-export family (r12).

One oracle for every layout: a plain dict ``{id: text}``. A seeded
random walk applies the full mutation surface — merge upserts, deletes,
zero-copy appends, compaction, full re-export — against each
``swap_mode`` and asserts after EVERY step that ``read_shards`` returns
exactly the model, that the persisted ``shard`` column still matches the
deterministic hash assignment, and (manifest mode, under
``keep_versions=2``) that the previous published snapshot, pinned by
version, still serves the rows the model held when it was current.
The ``pointer`` walk starts from a hand-built legacy v2 pointer export
(``_v_N/`` dirs, no longer written): appends are refused until a merge,
compaction or overwrite migrates it, and from then on it walks as a
manifest export.

Single-op behaviors are pinned in test_shards{,_pointer,_manifest}.py;
this file pins the COMPOSITIONS — e.g. append-after-partial-merge onto a
compacted snapshot — where layout/manifest bookkeeping bugs actually
live. The walks are deterministic (seeded), so a failure reproduces.
"""

import random

import pytest
from pyspark.sql import functions as F

from docarray_spark.sources import (
    compact_shards,
    merge_shards,
    read_shards,
    save_shards,
    shard_col,
    shard_versions,
)

N_SHARDS = 4
KEEP = 2
ROW_SCHEMA = "doc_id long, text string"


def _df(spark, pairs):
    return spark.createDataFrame(list(pairs), ROW_SCHEMA)


def _ids_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _read_model(spark, path, version=None):
    back = read_shards(spark, path, version=version)
    rows = back.select("doc_id", "text").collect()
    got = {r["doc_id"]: r["text"] for r in rows}
    assert len(got) == len(rows), "duplicate ids in a served snapshot"
    return back, got


class TestModelWalk:
    @pytest.mark.parametrize(
        "mode,seed",
        [("rename", 7), ("pointer", 7), ("manifest", 7), ("manifest", 23)],
    )
    def test_random_walk_matches_model(
        self, spark, tmp_path, mode, seed, legacy_pointer_export
    ):
        rng = random.Random(seed)
        path = str(tmp_path / f"walk_{mode}_{seed}")
        model: dict[int, str] = {}
        counter = [0]

        def fresh_ids(k):
            ids = list(range(counter[0], counter[0] + k))
            counter[0] += k
            return ids

        def version_now():
            if mode == "rename":
                return None
            return shard_versions(path)["current"]

        init = [(i, f"t{i}") for i in fresh_ids(40)]
        model.update(init)
        # the legacy walk writes manifest snapshots once it has migrated
        write_mode = "manifest" if mode == "pointer" else mode
        if mode == "pointer":
            legacy_pointer_export(
                path, [_df(spark, init)], N_SHARDS, keep_versions=KEEP
            )
        else:
            save_shards(
                _df(spark, init), path, n_shards=N_SHARDS, id_col="doc_id",
                swap_mode=mode, keep_versions=KEEP,
            )
        # (version after publish, model at that instant)
        history = [(version_now(), dict(model))]

        def check():
            back, got = _read_model(spark, path)
            assert got == model
            misplaced = back.withColumn(
                "expect", shard_col("doc_id", N_SHARDS)
            ).filter(F.col("shard") != F.col("expect")).count()
            assert misplaced == 0

        check()
        for step in range(12):
            op = rng.choice(
                ["upsert", "upsert", "delete", "append", "compact",
                 "overwrite"]
            )
            if op == "upsert":
                existing = (
                    rng.sample(sorted(model), min(len(model), rng.randint(1, 6)))
                    if model else []
                )
                pairs = [
                    (i, f"s{step}_{i}")
                    for i in existing + fresh_ids(rng.randint(0, 4))
                ]
                if not pairs:
                    continue
                model.update(pairs)
                merge_shards(_df(spark, pairs), path)
            elif op == "delete":
                if not model:
                    continue
                victims = rng.sample(
                    sorted(model), min(len(model), rng.randint(1, 10))
                )
                for v in victims:
                    model.pop(v)
                merge_shards(
                    _df(spark, []), path, delete_ids=_ids_df(spark, victims)
                )
            elif op == "append":
                pairs = [(i, f"a{step}_{i}") for i in fresh_ids(rng.randint(1, 6))]
                if shard_versions(path)["mode"] == "pointer":
                    with pytest.raises(ValueError, match="layout migration"):
                        save_shards(_df(spark, pairs), path, mode="append")
                    continue
                model.update(pairs)
                save_shards(_df(spark, pairs), path, mode="append")
            elif op == "compact":
                compact_shards(spark, path)
            elif op == "overwrite":
                # full re-export of a mutated corpus (drop a few, add a few)
                for v in list(model)[:: rng.randint(3, 9)]:
                    model.pop(v)
                model.update(
                    (i, f"o{step}_{i}") for i in fresh_ids(rng.randint(1, 4))
                )
                save_shards(
                    _df(spark, sorted(model.items())), path,
                    n_shards=N_SHARDS, id_col="doc_id", swap_mode=write_mode,
                    keep_versions=KEEP,
                )
            history.append((version_now(), dict(model)))
            check()
            # snapshot pinning: when this step PUBLISHED a new version,
            # the previous one (retained at keep_versions=2) must still
            # serve the model as of its own publish (the legacy _v_ dir
            # is not on the first manifest's lineage, so the migrating
            # step self-skips)
            prev_v, prev_model = history[-2]
            cur_v = history[-1][0]
            if prev_v is not None and prev_v != cur_v:
                if prev_v in shard_versions(path)["versions"]:
                    _, pinned = _read_model(spark, path, version=prev_v)
                    assert pinned == prev_model

    def test_walk_disk_stays_bounded(self, spark, tmp_path):
        """Appends grow the manifest-mode batch list; compaction plus GC
        must bring the on-disk batch-dir count back to the retention
        envelope instead of accreting forever."""
        import os

        path = str(tmp_path / "bounded")
        save_shards(
            _df(spark, [(i, f"t{i}") for i in range(20)]), path,
            n_shards=N_SHARDS, id_col="doc_id", swap_mode="manifest",
            keep_versions=KEEP,
        )
        for k in range(4):
            save_shards(
                _df(spark, [(100 + 10 * k + j, "x") for j in range(3)]),
                path, mode="append",
            )
        pre = [d for d in os.listdir(path) if d.startswith("_b_")]
        assert len(pre) >= 4  # append history really accreted
        compact_shards(spark, path)
        compact_shards(spark, path)  # second publish pushes history out
        post = [d for d in os.listdir(path) if d.startswith("_b_")]
        # retained: the two compacted snapshots (1 batch each) at KEEP=2
        assert len(post) <= KEEP, post
        assert read_shards(spark, path).count() == 20 + 12
