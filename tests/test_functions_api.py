"""The futures_eos_cdc_spark.functions public expression library is importable
and composes in plain select() pipelines."""

from pyspark.sql import functions as F

import futures_eos_cdc_spark.functions as fx
from futures_eos_cdc_spark.sources.tables import load_table


def test_text_functions_compose(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = docs.select(
        "doc_id",
        fx.token_count(F.col("text")).alias("n_tok"),
        fx.quality_score(F.col("text")).alias("q"),
        fx.lang_id(F.col("text")).alias("lang"),
        fx.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    assert len(out) == 20
    assert all(r.n_tok > 0 for r in out)
    assert all(0.0 <= r.q <= 1.0 for r in out)


def test_similarity_functions_compose(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").limit(5)
    row = (
        e.select(fx.cosine(F.col("embedding"), F.col("embedding")).alias("self_cos"))
        .collect()
    )
    assert all(abs(r.self_cos - 1.0) < 1e-9 for r in row)


def test_lsh_bucket_column_and_name_forms_match_ann_lsh(spark, sf_dir):
    """fx.lsh_bucket over a Column, over a column name, and ann_topk_lsh's
    first-table signature give every vector the same bucket id."""
    from futures_eos_cdc_spark.operators import similarity as S

    planes = S._hyperplanes(64, 5, 42)  # ann_topk_lsh's table 0 at its defaults
    e = load_table(spark, sf_dir, "embeddings")
    rows = e.select(
        fx.lsh_bucket(F.col("embedding"), planes).alias("col"),
        fx.lsh_bucket("embedding", planes).alias("name"),
        S._table_buckets_expr("embedding", [planes])[0]["bucket"].alias("ann"),
    ).collect()
    assert len({r.col for r in rows}) > 1
    assert all(r.col == r.name == r.ann for r in rows)


def test_all_exports_exist():
    for name in fx.__all__:
        assert callable(getattr(fx, name)), name
