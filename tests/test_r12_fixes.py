"""r11 ADVICE closures (r12): the meta-less-compact refusal for the
capped dedup indexes."""

import pytest
from pyspark.sql import functions as F

from parkour_spark import fs as pfs
from parkour_spark.operators.indexcommon import read_tombstones


def _docs(spark, n=30):
    rows = [
        (i, f"the quick brown doc {i} shares plenty of overlapping text")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_compact_refuses_metaless_pending_ledger(spark, tmp_path):
    """r11 ADVICE: reconciling a pending ledger with meta/ unreadable
    would clear the ledger while bands/ keeps the retired ids — the
    compact must refuse instead, leaving the ledger (and the probes'
    read repair) intact."""
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_compact,
        minhash_index_delete,
    )

    idx = str(tmp_path / "mh")
    minhash_index_build(_docs(spark), idx)
    minhash_index_delete(
        spark, spark.createDataFrame([(3,)], "doc_id long"), idx
    )
    pfs.delete(spark, idx + "/meta")
    with pytest.raises(ValueError, match="pending tombstone ledger"):
        minhash_index_compact(spark, idx)
    assert read_tombstones(spark, idx) is not None  # ledger survived


def test_substring_compact_refuses_metaless_pending_ledger(spark, tmp_path):
    from parkour_spark.operators.dedup import (
        substring_index_build,
        substring_index_compact,
        substring_index_delete,
    )

    idx = str(tmp_path / "ss")
    substring_index_build(_docs(spark), idx)
    substring_index_delete(
        spark, spark.createDataFrame([(3,)], "doc_id long"), idx
    )
    pfs.delete(spark, idx + "/meta")
    with pytest.raises(ValueError, match="pending tombstone ledger"):
        substring_index_compact(spark, idx)
    assert read_tombstones(spark, idx) is not None


def test_metaless_compact_without_ledger_still_folds(spark, tmp_path):
    """No pending ledger → the meta-less compact stays a legal pure
    small-files fold (legacy-index tolerance unchanged)."""
    from parkour_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_compact,
    )

    idx = str(tmp_path / "mh")
    minhash_index_build(_docs(spark), idx)
    pfs.delete(spark, idx + "/meta")
    minhash_index_compact(spark, idx)  # must not raise
