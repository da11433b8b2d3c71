"""schema.SF_DDL, the declared schemas every operator reads the sf tables
with, equals what Spark infers from the files at every scale factor. The
test infers; the queries do not."""

from __future__ import annotations

import pytest

from unipdf_spark.schema import SF_DDL, read_sf


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_sf_ddl_equals_inferred_schema(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    for name in SF_DDL:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert read_sf(spark, sf_dir, name).schema.simpleString() == \
            inferred.simpleString(), (sf, name)
