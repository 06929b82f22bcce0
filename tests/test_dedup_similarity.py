"""Semantic (not just oracle-parity) test for the exact dedup operator:
a duplicated corpus groups in pairs with the original id as canonical.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dygiepp_spark.operators import dedup as DD
from dygiepp_spark import tables as TT


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return TT.load_documents(spark, sf_dir)


def test_exact_dedup_identity(spark, docs):
    """Duplicating the corpus makes every group size 2 with canonical = min id."""
    shifted = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(shifted)
    groups = DD.exact_dedup_groups(both)
    assert groups.filter(F.col("n_dups") < 2).count() == 0
    # canonical id is always the original (smaller) id
    assert groups.filter(F.col("canonical_id") >= 100000).count() == 0
