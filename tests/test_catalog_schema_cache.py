"""catalog.load schema-inference memo (r16 O8).

A bare spark.read.parquet() runs a schema-inference job on every call;
load() memoizes the inferred StructType per path, beside the file's
(mtime, size) signature, so repeated loads — every registry query
build — skip that driver round trip. These tests pin that the memo changes METADATA handling only:
identical schema, identical rows, and staleness safety on file change.
"""

from __future__ import annotations

import os
import shutil

from event_stream_for_k8s_spark import catalog
from event_stream_for_k8s_spark.catalog import TABLES, load

SF = "/root/testdata/sf0.001"


def test_cached_load_schema_and_rows_identical(spark):
    """Second load (cache hit) yields the same schema and rows as the
    first (cache miss) for every table, including the dtype-dispatched
    events loader."""
    for name in TABLES:
        first = load(spark, SF, name)
        second = load(spark, SF, name)
        assert first.schema == second.schema, name
        # row-level parity on the two smallest + events (dtype dispatch)
        if name in ("region", "nation", "events"):
            a = sorted(map(tuple, first.collect()))
            b = sorted(map(tuple, second.collect()))
            assert a == b, name


def test_cache_key_includes_mtime(tmp_path, spark):
    """A regenerated file re-infers: the memo must not serve a schema
    for a path whose stat() changed."""
    src = f"{SF}/region.parquet"
    dst = str(tmp_path / "t.parquet")
    shutil.copyfile(src, dst)
    load_a = catalog._read_parquet(spark, dst)
    sig_a, _ = catalog._SCHEMA_CACHE[dst]
    # same stat -> hit, entry untouched
    catalog._read_parquet(spark, dst)
    assert catalog._SCHEMA_CACHE[dst][0] == sig_a
    # touch the file -> new signature -> re-infer
    st = os.stat(dst)
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    catalog._read_parquet(spark, dst)
    assert catalog._SCHEMA_CACHE[dst][0] != sig_a
    assert load_a.schema is not None


def test_regenerated_file_keeps_one_entry(tmp_path, spark):
    """Regenerating a file replaces its memo entry instead of adding
    one: across three regenerations the memo holds exactly 1 entry for
    the path, and each load sees the current file's schema."""
    import pandas as pd

    dst = str(tmp_path / "regen.parquet")
    before = len(catalog._SCHEMA_CACHE)
    for i in range(1, 4):
        cols = [f"c{j}" for j in range(i)]
        pd.DataFrame({c: [1, 2] for c in cols}).to_parquet(dst)
        assert catalog._read_parquet(spark, dst).columns == cols
        assert len(catalog._SCHEMA_CACHE) == before + 1


def test_directory_table_rewritten_in_place_reinfers(tmp_path, spark):
    """A directory-shaped table (standard Spark output) whose part
    file is rewritten in place with a new column must re-infer: the
    directory's own stat does not change, so it is never memoized."""
    import pandas as pd

    table = tmp_path / "dir_table"
    table.mkdir()
    part = str(table / "part-00000.parquet")
    pd.DataFrame({"id": [0, 1, 2]}).to_parquet(part)
    assert catalog._read_parquet(spark, str(table)).columns == ["id"]
    dir_st = os.stat(table)
    pd.DataFrame({"id": [0, 1, 2], "extra": [0, 2, 4]}).to_parquet(part)
    os.utime(table, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    df = catalog._read_parquet(spark, str(table))
    assert df.columns == ["id", "extra"]
    assert sorted(r["extra"] for r in df.collect()) == [0, 2, 4]
    assert str(table) not in catalog._SCHEMA_CACHE


def test_missing_path_still_raises(spark):
    """The memo must not swallow the reader's missing-path error."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        catalog._read_parquet(spark, "/nonexistent/nowhere.parquet").collect()
