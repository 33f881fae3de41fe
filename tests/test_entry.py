"""Driver-contract smoke: entry() runs; queries ↔ oracles agree.

The full sweep lives in tools/check_oracles.py (run at sf0.01, all
queries); here a representative subset at sf0.001 keeps CI fast.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tools.check_oracles import TABLES, compare

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "a1_pricing_summary",
    "o3_topk_window",
    "w8_lag_pairs",
    "g_morton_cells",
    "g_pip_polygon",
    "g_knn_assign",
    "g_density_grid",
    "t_near_dup_jaccard",
    "e_ann_topk_ip",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"image_id", "x", "y", "cell", "tile", "sid", "name"}


@pytest.mark.parametrize("name", SUBSET)
def test_query_vs_oracle(spark, duck, name):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    got = qs[name](spark, SF_DIR).toPandas()
    want = duck.sql(oracles[name]).df()
    problems = compare(name, got, want)
    assert not problems, problems


def test_every_query_has_matching_oracle_columns(spark, duck):
    """Every oracle runs and produces the same column set as its query."""
    qs = entrymod.queries()
    # img_phash_near_dups' oracle reads the image table its query
    # materialises at the sf0.01 gate tier, so run that query first, as
    # the gate check does (Spark side before oracle)
    qs["img_phash_near_dups"](spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))
    for name, sql in entrymod.oracle_sql().items():
        assert name in qs, f"oracle {name} has no query"
        want_cols = set(duck.sql(sql).df().columns)
        got_cols = set(qs[name](spark, SF_DIR).columns)
        assert got_cols == want_cols, (name, got_cols, want_cols)


def test_near_dup_jaccard_skips_null_text(spark, tmp_path):
    """A NULL ``text`` row yields no shingles (as in the oracle's
    lower/split chain) instead of crashing the shingle generator."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    next_id = max(docs["doc_id"].to_pylist()) + 1
    null_row = {c: [None] for c in docs.column_names} | {"doc_id": [next_id]}
    docs = pa.concat_tables([docs, pa.table(null_row, schema=docs.schema)])
    pq.write_table(docs, tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')")
    name = "t_near_dup_jaccard"
    got = entrymod.queries()[name](spark, str(tmp_path)).toPandas()
    want = con.sql(entrymod.oracle_sql()[name]).df()
    assert len(want) > 0
    problems = compare(name, got, want)
    assert not problems, problems


def test_phash_oracle_applies_the_bucket_cap(spark, tmp_path):
    """The img_phash_near_dups oracle drops (band, key) buckets above 256
    members, as imageops.phash_near_dups does: a 257-member bucket
    yields no pairs in either, a 256-member one all of its pairs."""
    import numpy as np
    import pandas as pd

    from ib_tool_spark import imageops

    def phash(b0, b1, b2, b3):
        return np.array((b3 << 48) | (b2 << 32) | (b1 << 16) | b0, dtype=np.uint64).astype(np.int64)

    over = np.arange(257)  # one shared band-0 key, every other band unique
    full = np.arange(256)  # one shared band-1 key; band 3 sets the sign bit
    pdf = pd.DataFrame(
        {
            "image_id": [f"img_{i:06d}" for i in range(len(over) + len(full))],
            "phash": np.concatenate(
                [
                    phash(0xBEEF, over + 1, over + 1000, over + 5000),
                    phash(full + 20000, 0x7777, full + 30000, full + 40000),
                ]
            ),
        }
    )
    (tmp_path / "imgs" / "part").mkdir(parents=True)
    pdf.to_parquet(tmp_path / "imgs" / "part" / "0.parquet", index=False)
    sql = entrymod._phash_near_dups_oracle_sql(str(tmp_path / "imgs" / "*" / "*.parquet"), 64)
    want = duckdb.sql(sql).df()
    got = imageops.phash_near_dups(spark.createDataFrame(pdf), max_hamming=64).toPandas()
    assert len(want) == 256 * 255 // 2
    assert not compare("img_phash_near_dups", got, want)
