"""SQL-callable sketch functions (hllspark.sqlfuncs): the pure-spark.sql
surface must be wire-compatible with the DataFrame API — same bytes, same
estimates — and the grouped re-aggregation algebra must hold in SQL."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from hllspark import agg, hll, sketch, sqlfuncs
from tests.conftest import SF_TEST


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_TEST}/documents.parquet").cache()
    df.createOrReplaceTempView("sqlfuncs_docs")
    sqlfuncs.register_sql_functions(spark, p=12)
    return df


def test_sql_build_matches_dataframe_path_bytes(spark, docs):
    """hll_build_agg in SQL == sketch_by(hash_mode='farmhash',
    impl='pandas') byte-for-byte: one wire format across both surfaces."""
    got = {
        r["lang"]: bytes(r["sk"])
        for r in spark.sql(
            "SELECT lang, hll_build_agg(doc_id) AS sk FROM sqlfuncs_docs "
            "GROUP BY lang"
        ).collect()
    }
    want = {
        r["lang"]: bytes(r["sketch"])
        for r in agg.sketch_by(
            docs, "doc_id", ["lang"], p=12, hash_mode="farmhash", impl="pandas"
        ).collect()
    }
    assert got == want


def test_sql_reaggregation_equals_direct_build(spark, docs):
    """Merge algebra in pure SQL: per-(lang, len-bucket) sketches re-merged
    to per-lang == sketches built directly per-lang (register max is
    associative), and the estimate matches the exact distinct count at
    small n (linear-counting regime)."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW sqlfuncs_daily AS "
        "SELECT lang, length(text) % 7 AS bucket, hll_build_agg(doc_id) AS sk "
        "FROM sqlfuncs_docs GROUP BY lang, length(text) % 7"
    )
    remerged = {
        r["lang"]: bytes(r["sk"])
        for r in spark.sql(
            "SELECT lang, hll_merge_agg(sk) AS sk FROM sqlfuncs_daily "
            "GROUP BY lang"
        ).collect()
    }
    direct = {
        r["lang"]: bytes(r["sk"])
        for r in spark.sql(
            "SELECT lang, hll_build_agg(doc_id) AS sk FROM sqlfuncs_docs "
            "GROUP BY lang"
        ).collect()
    }
    assert remerged == direct
    est = {
        r["lang"]: r["n"]
        for r in spark.sql(
            "SELECT lang, hll_estimate(hll_merge_agg(sk)) AS n "
            "FROM sqlfuncs_daily GROUP BY lang"
        ).collect()
    }
    exact = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    for lang, n in exact.items():
        assert abs(est[lang] - n) <= max(0.05 * n, 2.0)


def test_sql_scalar_functions(spark, docs):
    """hll_union / hll_intersect_est / hll_jaccard / hlll_compress /
    hll_bitsize agree with the hll/sketch module functions on the same
    bytes, driven entirely through SQL."""
    row = spark.sql(
        "WITH sa AS (SELECT hll_build_agg(doc_id) AS a FROM sqlfuncs_docs "
        " WHERE doc_id < 60), "
        "sb AS (SELECT hll_build_agg(doc_id) AS b FROM sqlfuncs_docs "
        " WHERE doc_id >= 30 AND doc_id < 90) "
        "SELECT hll_estimate(hll_union(a, b)) AS u, hll_intersect_est(a, b) AS i, "
        " hll_jaccard(a, b) AS j, hll_bitsize(hlll_compress(a)) AS hlll_bits, "
        " hll_bitsize(a) AS hll_bits, a, b FROM sa CROSS JOIN sb"
    ).first()
    Ma, Mb = sketch.decode(bytes(row["a"])), sketch.decode(bytes(row["b"]))
    ov = hll.overlap_estimates(Ma, Mb)
    assert row["u"] == pytest.approx(hll.estimate(hll.merge(Ma.copy(), Mb)))
    assert row["i"] == pytest.approx(ov["intersection"])
    assert row["j"] == pytest.approx(ov["jaccard"])
    assert row["hlll_bits"] < row["hll_bits"]
    # sanity vs truth: |a ∪ b| = 90, |a ∩ b| = 30 (exact at this size)
    assert abs(row["u"] - 90) <= 5
    assert abs(row["i"] - 30) <= 8


def test_register_kind_sql_countsketch(spark, docs):
    """Generic kind registration: cs_build_agg/cs_merge_agg/cs_f2 through
    SQL — merge-then-query == one-shot build (linear merge), and F2 is
    exact when width >> distinct keys (no collisions on the fixture)."""
    from hllspark.sketches import countsketch

    names = sqlfuncs.register_kind_sql(
        spark,
        countsketch.kind(2053, 5),
        "cs",
        [("f2", countsketch.f2_estimate, "double")],
    )
    assert set(names) == {"cs_build_agg", "cs_merge_agg", "cs_f2"}
    got = spark.sql(
        "WITH parts AS (SELECT lang, cs_build_agg(doc_id % 10) AS sk "
        "FROM sqlfuncs_docs GROUP BY lang) "
        "SELECT cs_f2(cs_merge_agg(sk)) AS f2 FROM parts"
    ).first()["f2"]
    exact = (
        docs.groupBy((F.col("doc_id") % 10).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")))
        .first()[0]
    )
    assert abs(got - float(exact)) <= float(exact) * np.sqrt(8.0 / 2053)


def test_sql_null_and_empty_handling(spark):
    """Nulls are ignored COUNT DISTINCT-style; an all-null group yields an
    empty sketch estimating 0; int columns with nulls (Arrow float64
    transfer) still hash identically to the no-null path."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (None, "b"), (2, "a"), (None, "a")],
        "v long, g string",
    )
    df.createOrReplaceTempView("sqlfuncs_nulls")
    rows = {
        r["g"]: r["n"]
        for r in spark.sql(
            "SELECT g, hll_estimate(hll_build_agg(v)) AS n "
            "FROM sqlfuncs_nulls GROUP BY g"
        ).collect()
    }
    assert rows["b"] == 0.0
    assert abs(rows["a"] - 2) < 0.5
    # parity with the no-null int path on the same values
    clean = spark.createDataFrame([(1, "a"), (2, "a"), (2, "a")], "v long, g string")
    clean.createOrReplaceTempView("sqlfuncs_clean")
    b_nulls = spark.sql(
        "SELECT hll_build_agg(v) AS s FROM sqlfuncs_nulls WHERE g = 'a'"
    ).first()["s"]
    b_clean = spark.sql("SELECT hll_build_agg(v) AS s FROM sqlfuncs_clean").first()[
        "s"
    ]
    assert bytes(b_nulls) == bytes(b_clean)


def test_nullable_bigint_parity_across_surfaces(spark):
    """Regression: a nullable BIGINT column reaches pandas as float64
    (Arrow), which used to fall through to the string hash path in
    farmhash parity mode — hashing str('1.0') instead of the reference's
    Fingerprint(1).  Both surfaces must now produce the sketch of the
    INTEGER values: byte-equal to each other and to the driver-side
    hll.build on the non-null ints."""
    df = spark.createDataFrame(
        [(i if i % 7 else None,) for i in range(1, 500)], "v long"
    )
    df.createOrReplaceTempView("sqlfuncs_nullable_ints")
    b_sql = spark.sql(
        "SELECT hll_build_agg(v) AS s FROM sqlfuncs_nullable_ints"
    ).first()["s"]
    b_df = agg.sketch_by(df, "v", p=12, hash_mode="farmhash", impl="pandas").first()[
        "sketch"
    ]
    vals = np.array([i for i in range(1, 500) if i % 7], dtype=np.int64)
    b_ref = sketch.encode(hll.build(vals, p=12))
    assert bytes(b_sql) == bytes(b_df) == b_ref


def test_sql_float_input_rejected(spark):
    """Genuine non-integral doubles are rejected with CAST guidance, not
    silently truncated."""
    df = spark.createDataFrame([(1.5,), (2.0,)], "v double")
    df.createOrReplaceTempView("sqlfuncs_floats")
    with pytest.raises(Exception, match="CAST"):
        spark.sql("SELECT hll_build_agg(v) AS s FROM sqlfuncs_floats").collect()
    # the documented workaround works
    n = spark.sql(
        "SELECT hll_estimate(hll_build_agg(CAST(v AS STRING))) AS n "
        "FROM sqlfuncs_floats"
    ).first()["n"]
    assert abs(n - 2) < 0.5


def test_merge_agg_of_only_null_sketches_is_null(spark):
    """hll_merge_agg skips NULL sketches and merges a group with none to
    NULL, as agg.merge_sketches does, whatever p the functions were
    registered with: an empty sketch at that p would not re-merge with
    the stored sketches."""
    regs = hll.build(np.arange(1, 200, dtype=np.int64), p=12)
    rows = [(1, bytearray(sketch.encode(regs))), (1, None), (2, None), (2, None)]
    spark.createDataFrame(rows, "g int, sk binary").createOrReplaceTempView("sqlfuncs_null_sks")
    sqlfuncs.register_sql_functions(spark, p=14)
    try:
        by_g = "SELECT g, hll_merge_agg(sk) AS sk FROM sqlfuncs_null_sks GROUP BY g"
        got = {r["g"]: r["sk"] for r in spark.sql(by_g).collect()}
        assert got[2] is None
        assert bytes(got[1]) == sketch.encode(regs)
        again = spark.sql(f"SELECT hll_merge_agg(sk) AS sk FROM ({by_g})").first()["sk"]
        assert bytes(again) == sketch.encode(regs)
    finally:
        sqlfuncs.register_sql_functions(spark, p=12)
