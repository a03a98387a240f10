"""Shared fixtures — mirrors the reference's seeded-fixture style
(/root/reference/tests/conftest.py:9-42: seeded generators, tiny corpora,
in-memory DB). One session-scoped local SparkSession; seeded synthetic
transcript corpora at two sizes."""

from __future__ import annotations

import os

import pytest

from lsh_cascade_poc_spark.datagen.transcripts import (
    SyntheticCorpus,
    corpus_to_spark,
    generate_corpus,
)
from lsh_cascade_poc_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a bounded driver heap: the session default (48g) lets G1 grow the
    # heap it never gives back past the RAM of a 16 GB host over one suite
    # run (tests/test_streaming.py alone reached an 11 GB JVM); the test
    # corpora need a fraction of 4g, the size the benchmark runs its larger
    # workloads in (3g)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus() -> SyntheticCorpus:
    """~50 base convs — the reference's 50-doc pipeline fixture scale
    (tests/test_pipeline.py:15-47)."""
    return generate_corpus(n_base=50, dup_fraction=0.4, seed=42)


@pytest.fixture(scope="session")
def small_corpus() -> SyntheticCorpus:
    """~300 base convs — oracle-level e2e."""
    return generate_corpus(n_base=300, dup_fraction=0.3, seed=7)


@pytest.fixture(scope="session")
def tiny_turns(spark, tiny_corpus):
    return corpus_to_spark(spark, tiny_corpus).cache()


@pytest.fixture(scope="session")
def small_turns(spark, small_corpus):
    return corpus_to_spark(spark, small_corpus).cache()


@pytest.fixture
def write_embeddings(spark, tmp_path):
    """Writes an (n, 64) float32 matrix as `<tmp>/sf/embeddings.parquet`
    (vec_id = row index), the table the driver's vector queries read, and
    returns the sf dir to pass them."""
    import numpy as np
    import pandas as pd

    def write(vectors) -> str:
        sf = tmp_path / "sf"
        sf.mkdir(exist_ok=True)
        pdf = pd.DataFrame({
            "vec_id": np.arange(len(vectors), dtype=np.int64),
            "embedding": [list(map(float, v)) for v in vectors],
        })
        spark.createDataFrame(
            pdf, schema="vec_id long, embedding array<float>"
        ).write.mode("overwrite").parquet(str(sf / "embeddings.parquet"))
        return str(sf)

    return write
