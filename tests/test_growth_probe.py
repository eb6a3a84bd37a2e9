"""The growth probe's corpus construction (tools/sf_scale_probe.py):
relabeled copies keep every within-copy similarity and share nothing
across copies, so a wall ratio between copy counts measures how the
plan grows, not how the data was built."""

import numpy as np
from pyspark.sql import functions as F

from resume_parser_service_spark.kernels.shingle import shingles
from resume_parser_service_spark.operators.catalog import (
    _q_ngram_jaccard_pandas)
from tools.sf_scale_probe import build_copies

SF_DIR = "/root/testdata/sf0.001"


def test_copies_are_isomorphic_and_disjoint(spark, tmp_path):
    two = build_copies(spark, SF_DIR, str(tmp_path), n_copies=2)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()

    base = [tuple(r) for r in _q_ngram_jaccard_pandas(spark, SF_DIR)
            .collect()]
    got = [tuple(r) for r in _q_ngram_jaccard_pandas(spark, two).collect()]
    assert base
    assert got == base + [(a + n_docs, b + n_docs, n, j)
                          for a, b, n, j in base]

    docs = spark.read.parquet(f"{two}/documents.parquet") \
        .withColumn("copy", (F.col("doc_id") >= n_docs).cast("int"))
    sets = [set(), set()]
    for r in docs.select("copy", "text").collect():
        sets[r.copy].update(shingles(r.text, 5))
    assert sets[0] and sets[1] and not sets[0] & sets[1]

    rows = spark.read.parquet(f"{two}/embeddings.parquet") \
        .orderBy("vec_id").collect()
    vecs = np.array([r.embedding for r in rows], dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    half = len(rows) // 2
    assert [r.vec_id for r in rows] == list(range(2 * half))
    c0, c1 = unit[:half], unit[half:]
    assert np.array_equal(c0 @ c0.T, c1 @ c1.T)
