"""The oracle rows that prove the one capped band-bucket join
(``ops.dedup.pairs_from_band_rows``) in its three shapes — self join with
the in-join screen, probe mode for the singleton rescue, probe mode with
the screen for incremental ER — against their DuckDB twins, through the
same compare the correctness gate runs (``tools/check_oracles.py``)."""

import os
import sys

import pytest

from conftest import REPO, SF_DIR

sys.path.insert(0, os.path.join(REPO, "tools"))

pytestmark = pytest.mark.skipif(
    not os.path.isfile(os.path.join(SF_DIR, "documents.parquet")),
    reason="scale-factor test tables not available",
)


@pytest.fixture(scope="module")
def duck():
    from check_oracles import duck_conn

    con = duck_conn(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "rescue_lsh", "er_incremental"]
)
def test_band_join_oracle_row(spark, duck, name):
    import __spark_entry__ as entry
    from check_oracles import compare

    msg = compare(
        name, entry.queries()[name](spark, SF_DIR), entry.oracle_sql()[name],
        duck,
    )
    assert msg.startswith(f"{name}: OK"), msg
