import os

import pytest

from docarray_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="docarray_spark_tests", shuffle_partitions=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pytest.fixture()
def legacy_pointer_export():
    """Build a format-v2 pointer export by hand, as the removed
    ``swap_mode='pointer'`` writer laid it out (readers and the
    migration to manifest still meet such exports): version ``n`` of
    ``versions`` is ``partitionBy("shard")`` parquet under
    ``root/_v_000000000n/``, ``_CURRENT`` names the last one, and the
    sidecar records ``"swap_mode": "pointer"``."""
    import json

    from docarray_spark.sources import shard_col

    def build(root, versions, n_shards, id_col="doc_id", keep_versions=1):
        for n, df in enumerate(versions, 1):
            df.withColumn("shard", shard_col(id_col, n_shards)).repartition(
                n_shards, "shard"
            ).write.partitionBy("shard").parquet(f"{root}/_v_{n:010d}")
        with open(os.path.join(root, "_CURRENT"), "w") as f:
            f.write(f"_v_{len(versions):010d}")
        with open(os.path.join(root, "_shard_layout.json"), "w") as f:
            json.dump({
                "manifest_version": 2, "n_shards": n_shards,
                "id_col": id_col, "hash_method": "md5",
                "order_within": None, "files_per_shard": 1,
                "max_rows_per_file": None, "swap_mode": "pointer",
                "keep_versions": keep_versions,
            }, f)
        return root

    return build
