"""Skew salting: correctness equivalence + partition-spread evidence."""

from pyspark.sql import functions as F

from ocr_processing_pipeline_spark.operators.skew import (
    salted_broadcast_left, salted_groupby, with_salt)
from ocr_processing_pipeline_spark.operators.text import url_host


def test_salted_groupby_matches_plain(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet") \
        .withColumn("host", url_host(F.col("url"))) \
        .withColumn("n_bytes", F.length("html").cast("long"))

    plain = {(r["host"]): (r["n"], r["total"]) for r in
             pages.groupBy("host")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("n_bytes").alias("total")).collect()}
    salted = {(r["host"]): (r["n"], r["total"]) for r in
              salted_groupby(pages, ["host"],
                             {"n": ("count", None),
                              "total": ("sum", "n_bytes")},
                             salt_source_col="url").collect()}
    assert salted == plain


def test_skew_is_real_and_salt_spreads_it(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet") \
        .withColumn("host", url_host(F.col("url")))
    counts = {r["host"]: r["count"] for r in
              pages.groupBy("host").count().collect()}
    top = max(counts.values())
    assert top / sum(counts.values()) > 0.4      # the planted skew

    # salted key cardinality spreads the hot host over DEFAULT_SALTS (16)
    # groups
    salted = with_salt(pages, "url")
    spread = (salted.groupBy("host", "_salt").count()
              .groupBy("host").count()
              .filter(F.col("count") >= 12).count())
    assert spread >= 1                            # hot host uses ≥12 salts


def test_salted_broadcast_left_matches_plain(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet") \
        .withColumn("host", url_host(F.col("url")))
    dim = spark.createDataFrame(
        [("archive.example.ch", "ch"), ("news.example.de", "de"),
         ("journal.example.fr", "fr"), ("gazzetta.example.it", "it"),
         ("blog.example.com", "com"), ("docs.example.org", "org")],
        "host string, tld string")
    plain = pages.join(dim, "host").groupBy("tld").count()
    salted = (salted_broadcast_left(pages, dim, "host", "url")
              .groupBy("tld").count())
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))
