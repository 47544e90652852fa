"""Contract test for the Iceberg branch of Catalog (no Iceberg runtime jar
exists in this sandbox, so this codepath can never run for real here — these
tests pin the exact DataFrameWriterV2 call sequence a cluster deployment
exercises, so a wrong keyword cannot hide behind the parquet fallback)."""

import os
from unittest.mock import MagicMock

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


def test_append_mode_appends_without_replace(icat):
    cat, spark = icat
    spark.catalog.tableExists.return_value = True
    df = MagicMock(name="df")
    cat.append(df, "postings")
    df.writeTo.assert_called_once_with("postings")
    writer = df.writeTo.return_value
    writer.append.assert_called_once_with()
    writer.create.assert_not_called()
    writer.createOrReplace.assert_not_called()
    writer.partitionedBy.assert_not_called()


def test_append_helper_routes_to_append(icat):
    cat, _ = icat
    df = MagicMock(name="df")
    cat.append(df, "postings")
    df.writeTo.return_value.append.assert_called_once_with()


def test_first_append_creates_the_table(icat):
    cat, spark = icat
    spark.catalog.tableExists.return_value = False
    df = MagicMock(name="df")
    cat.append(df, "postings")
    df.writeTo.return_value.create.assert_called_once_with()
    df.writeTo.return_value.append.assert_not_called()


def test_read_exists_drop_use_catalog_api(icat):
    cat, spark = icat
    cat.read("postings")
    spark.table.assert_called_once_with("postings")
    spark.catalog.tableExists.return_value = True
    assert cat.exists("postings") is True
    spark.catalog.tableExists.assert_called_once_with("postings")
    cat.drop("postings")
    spark.sql.assert_called_once_with("DROP TABLE IF EXISTS postings")


def test_iceberg_docs_read_uses_manifest_versions(tmp_path):
    """``docs`` is a manifest-pinned directory table in both catalog modes:
    on Iceberg, Catalog.read("docs") reads the snapshot's explicit version
    directories and never opens a catalog table."""
    spark = MagicMock(name="spark")
    cat = Catalog(spark, str(tmp_path))
    assert cat.use_iceberg
    cat.commit({"job": "seed"}, tables={"docs": {0: "a", 1: "b"}, "postings": {0: "a", 1: "b"}})
    dirs = [cat.version_path("docs", b, v) for b, v in ((0, "a"), (1, "b"))]
    for d in dirs:
        os.makedirs(d)
    got = cat.read("docs")
    spark.table.assert_not_called()
    spark.read.option.assert_called_once_with("basePath", cat.path("docs"))
    spark.read.option.return_value.parquet.assert_called_once_with(*dirs)
    assert got is spark.read.option.return_value.parquet.return_value
    assert cat.exists("docs") and not spark.catalog.tableExists.called


def test_sandbox_has_no_iceberg(spark):
    """Guard: if a future environment ships the Iceberg jar, the real
    integration should replace these mocks (and this test will flag it)."""
    assert iceberg_available(spark) is False
