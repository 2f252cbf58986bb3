"""catalog.shared_artifact: one session-shared materialization per
(session, directory, input data version, key)."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from bigdata_deepfakeanalysis_spark.operators.advanced import (
    basket_items_cached,
)

from .conftest import SF_SMALL


def _copy_sf(tmp_path):
    sf = tmp_path / "sf"
    # copyfile, not copytree's copy2: the source files are read-only
    shutil.copytree(SF_SMALL, sf, copy_function=shutil.copyfile)
    return sf


def test_artifact_is_shared_across_calls_and_spellings(spark, tmp_path):
    sf = _copy_sf(tmp_path)
    (tmp_path / "x").mkdir()

    first = basket_items_cached(spark, str(sf))
    assert basket_items_cached(spark, str(sf)) is first
    other_spelling = str(tmp_path / "x" / ".." / "sf")
    assert basket_items_cached(spark, other_spelling) is first


def test_rewritten_input_is_not_served_stale(spark, tmp_path):
    sf = _copy_sf(tmp_path)
    old = basket_items_cached(spark, str(sf))
    old_count = old.count()

    # rewrite lineitem with fewer rows under the live session
    path = sf / "lineitem.parquet"
    li = pq.read_table(path)
    head = li.slice(0, li.num_rows // 2)
    pq.write_table(head, tmp_path / "lineitem.new")
    os.replace(tmp_path / "lineitem.new", path)
    want = len(
        head.select(["l_orderkey", "l_partkey"]).to_pandas().drop_duplicates()
    )
    assert want < old_count

    fresh = basket_items_cached(spark, str(sf))
    assert fresh is not old
    assert fresh.count() == want
