import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from synspark.session import get_spark
    s = get_spark(app="synspark-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def assert_ledger(spark):
    """Check a store's manifest ledger (``IndexStore.ledger``) against
    the pseudo-row oracle: per live shard, the min first_doc, max
    last_doc and summed n_docs of its docstats pseudo rows."""
    from pyspark.sql import functions as F

    from synspark.indexer import DOCSTATS_TERM

    def check(store):
        oracle = {int(r.shard): (r.lo, r.hi, r.docs) for r in
                  store.segments(spark)
                  .filter(F.col("term") == DOCSTATS_TERM)
                  .groupBy("shard")
                  .agg(F.min("first_doc").alias("lo"),
                       F.max("last_doc").alias("hi"),
                       F.sum("n_docs").alias("docs")).collect()}
        assert oracle and store.ledger() == oracle
    return check
