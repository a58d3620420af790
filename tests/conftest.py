import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    session = get_spark(
        app_name="ocr_spark-tests",
        cores=4,
        shuffle_partitions=8,
        driver_memory="4g",
    )
    yield session


@pytest.fixture(scope="session")
def corpus_path(tmp_path_factory):
    """A 300-row full-shape corpus parquet shared across Spark tests."""
    from ocr_spark.corpus import write_corpus

    path = str(tmp_path_factory.mktemp("corpus") / "documents.parquet")
    write_corpus(path, 300, seed=42)
    return path


@pytest.fixture()
def lineage_done(spark):
    """``lineage_done(path, ids, n_buckets)`` writes a lineage table
    whose only rows mark the ``id`` column of the DataFrame ``ids``
    done under ``n_buckets``."""
    from pyspark.sql import functions as F

    from ocr_spark.plans import LINEAGE_SCHEMA

    def write(path, ids, n_buckets):
        given = {
            "bucket": F.col("id"),
            "n_buckets": F.lit(n_buckets),
            "status": F.lit("done"),
            "finished_at": F.current_timestamp(),
        }
        columns = [c.split() for c in LINEAGE_SCHEMA.split(", ")]
        ids.select(
            *(given.get(c, F.lit(None)).cast(t).alias(c) for c, t in columns)
        ).write.parquet(path)

    return write
