"""Contract test for the Iceberg branch of Catalog (no Iceberg runtime jar
exists in this sandbox, so this codepath can never run for real here — these
tests pin the exact DataFrameWriterV2 call sequence a cluster deployment
exercises, so a wrong keyword cannot hide behind the parquet fallback)."""

from unittest.mock import MagicMock, call

import pytest

from information_retrieval_images_spark.catalog import Catalog, iceberg_available


@pytest.fixture()
def icat():
    spark = MagicMock(name="spark")
    # iceberg_available probes the JVM classpath; a MagicMock JVM "finds" the
    # class, so this Catalog takes the Iceberg branch everywhere
    cat = Catalog(spark, "/warehouse/ns")
    assert cat.use_iceberg
    return cat, spark


def test_overwrite_with_partitioning_uses_create_or_replace(icat, spark):
    # needs the shared session: Catalog.write builds F.col() partition
    # expressions, which require an active SparkContext even under mocks
    cat, _ = icat
    df = MagicMock(name="df")
    cat.write(df, "postings", mode="overwrite", partition_by=["bucket"])
    df.writeTo.assert_called_once_with("postings")
    writer = df.writeTo.return_value
    assert writer.partitionedBy.call_count == 1
    (args, _) = writer.partitionedBy.call_args
    assert len(args) == 1  # one partition column expression
    writer.partitionedBy.return_value.createOrReplace.assert_called_once_with()
    writer.partitionedBy.return_value.append.assert_not_called()


def test_append_mode_appends_without_replace(icat):
    cat, _ = icat
    df = MagicMock(name="df")
    cat.write(df, "docs", mode="append")
    writer = df.writeTo.return_value
    writer.append.assert_called_once_with()
    writer.createOrReplace.assert_not_called()
    writer.partitionedBy.assert_not_called()


def test_append_helper_routes_to_append(icat):
    cat, _ = icat
    df = MagicMock(name="df")
    cat.append(df, "postings")
    df.writeTo.return_value.append.assert_called_once_with()


def test_read_exists_drop_use_catalog_api(icat):
    cat, spark = icat
    cat.read("docs")
    spark.table.assert_called_once_with("docs")
    spark.catalog.tableExists.return_value = True
    assert cat.exists("docs") is True
    spark.catalog.tableExists.assert_called_once_with("docs")
    cat.drop("docs")
    spark.sql.assert_called_once_with("DROP TABLE IF EXISTS docs")


def test_sandbox_has_no_iceberg(spark):
    """Guard: if a future environment ships the Iceberg jar, the real
    integration should replace these mocks (and this test will flag it)."""
    assert iceberg_available(spark) is False
