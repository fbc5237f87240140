"""tools/scale.py replica recipe: a factor-10 build holds 10 x the
source rows with ids that no two replicas share, and the pre-timing
check fails closed when a 1x table stands in for a replica."""

from __future__ import annotations

import os
import shutil

import pytest

from dns_log_transformer_spark.session import read_table
from tests.conftest import SF_SMOKE
from tools import scale


@pytest.fixture(scope="module")
def x10(spark, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("scale") / "x10")
    scale.build(spark, 10, src=SF_SMOKE, dst=dst)
    return dst


def test_factor10_replica_counts(spark, x10):
    scale.check(spark, 10, src=SF_SMOKE, dst=x10)
    for table, id_cols in scale.ID_COLS.items():
        path = os.path.join(x10, f"{table}.parquet")
        assert os.path.isdir(path) and not os.path.islink(path), table
        src = read_table(spark, SF_SMOKE, table)
        rep = spark.read.parquet(path)
        assert rep.count() == 10 * src.count(), table
        n_ids = src.select(*id_cols).distinct().count()
        assert rep.select(*id_cols).distinct().count() == 10 * n_ids, table
        assert rep.schema == src.schema, table
    for table in scale.LINKED:
        assert os.path.islink(os.path.join(x10, f"{table}.parquet")), table


@pytest.mark.parametrize("stand_in", ["symlink", "copy"])
def test_check_rejects_1x_stand_in(spark, x10, tmp_path, stand_in):
    bad = str(tmp_path / "x10")
    shutil.copytree(x10, bad, symlinks=True)
    replica = os.path.join(bad, "embeddings.parquet")
    shutil.rmtree(replica)
    if stand_in == "symlink":
        os.symlink(os.path.join(SF_SMOKE, "embeddings.parquet"), replica)
    else:
        read_table(spark, SF_SMOKE, "embeddings").write.parquet(replica)
    # build leaves an existing entry alone; the check must catch it
    scale.build(spark, 10, src=SF_SMOKE, dst=bad)
    with pytest.raises(scale.ReplicaError, match="embeddings.parquet"):
        scale.check(spark, 10, src=SF_SMOKE, dst=bad)
