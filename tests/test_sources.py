from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.0), (3, None, 0.0)],
        "id bigint, name string, score double",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_parquet_roundtrip(spark, sample, tmp_path):
    from universal_importer_duckdb_spark.sources import read_parquet, write_parquet

    p = str(tmp_path / "t.parquet")
    write_parquet(sample, p)
    assert _rows(read_parquet(spark, p)) == _rows(sample)


def test_parquet_partitioned_writes_directories(spark, sample, tmp_path):
    import os

    from universal_importer_duckdb_spark.sources import write_parquet

    p = str(tmp_path / "part.parquet")
    write_parquet(sample, p, partition_by=["id"])
    assert any(d.startswith("id=") for d in os.listdir(p))


def test_json_roundtrip(spark, sample, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import read_json
    from universal_importer_duckdb_spark.sources.writers import write_json

    p = str(tmp_path / "t.json")
    write_json(sample, p)
    got = read_json(spark, p, schema="id bigint, name string, score double")
    assert _rows(got) == _rows(sample)


def test_orc_roundtrip(spark, sample, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import read_orc
    from universal_importer_duckdb_spark.sources.writers import write_orc

    p = str(tmp_path / "t.orc")
    write_orc(sample, p)
    assert _rows(read_orc(spark, p)) == _rows(sample)


def test_read_source_dispatch(spark, sample, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import read_source
    from universal_importer_duckdb_spark.sources.writers import write_parquet

    p = str(tmp_path / "d.parquet")
    write_parquet(sample, p)
    assert read_source(spark, p).count() == 3
    with pytest.raises(ValueError, match="Unsupported source format"):
        read_source(spark, "file.xyz")


def test_csv_ingest_order_preserves_file_order(spark, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import read_csv_with_ingest_order

    p = tmp_path / "rows.csv"
    p.write_text("name\n" + "\n".join(f"row{i}" for i in range(20)) + "\n")
    df = read_csv_with_ingest_order(spark, str(p))
    got = {r.name: r._ingest_ord for r in df.collect()}
    assert got == {f"row{i}": i + 1 for i in range(20)}


def test_text_reader_lines_and_whole(spark, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import read_text

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.txt").write_text("alpha\nbeta\n")
    (d / "b.txt").write_text("gamma\n")
    lines = sorted(r.value for r in read_text(spark, str(d)).collect())
    assert lines == ["alpha", "beta", "gamma"]
    wholes = sorted(r.value for r in read_text(spark, str(d), whole=True).collect())
    assert wholes == ["alpha\nbeta\n", "gamma\n"]


def test_binary_files_feed_multimodal_features(spark, tmp_path):
    from pyspark.sql import functions as F

    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        extract_image_features,
    )
    from universal_importer_duckdb_spark.sources.readers import read_binary_files

    from universal_importer_duckdb_spark.operators.multimodal import encode_png_gray

    d = tmp_path / "blobs"
    d.mkdir()
    (d / "x.img").write_bytes(encode_png_gray(12, 3, [[9] * 12] * 3))
    (d / "y.img").write_bytes(encode_png_gray(5, 7, [[200] * 5] * 7))
    (d / "skip.dat").write_bytes(b"nope")
    raw = read_binary_files(spark, str(d), glob="*.img")
    assert set(raw.columns) == {"path", "modificationTime", "length", "content"}
    with_id = raw.withColumn("item_id", F.xxhash64("path"))
    feats = extract_image_features(
        attach_media_column(with_id, "content", "image/png", "item_id")
    )
    rows = feats.collect()
    assert len(rows) == 2
    assert {(r.width, r.height) for r in rows} == {(12, 3), (5, 7)}
    assert {r.luma_sum for r in rows} == {12 * 3 * 9, 5 * 7 * 200}


def test_json_corrupt_capture(spark, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import (
        read_json_with_corrupt_capture,
    )

    p = tmp_path / "data.jsonl"
    p.write_text(
        '{"id": 1, "name": "a"}\n'
        'this is not json\n'
        '{"id": 2, "name": "b"}\n'
        '{"id": "not-an-int", "name": 3}\n'
    )
    good, corrupt = read_json_with_corrupt_capture(
        spark, str(p), "id bigint, name string"
    )
    g = {r.id for r in good.collect()}
    c = [r.raw_record for r in corrupt.collect()]
    assert g == {1, 2}
    assert len(c) == 2
    assert any("not json" in r for r in c)
    assert any("not-an-int" in r for r in c)


def test_json_corrupt_handle_survives_cache_sweep(spark, tmp_path):
    # regression: the reader-internal _corrupt_record formulation only
    # stayed queryable while a cache entry covered it — a release_scoped
    # or clearCache sweep broke the returned handle. The from_json
    # formulation must keep both frames valid after any sweep.
    from universal_importer_duckdb_spark.caching import release_scoped
    from universal_importer_duckdb_spark.sources.readers import (
        read_json_with_corrupt_capture,
    )

    p = tmp_path / "sweep.jsonl"
    p.write_text('{"a": 1}\nnot json\n{"a": 2}\n')
    good, corrupt = read_json_with_corrupt_capture(spark, str(p), "a int")
    release_scoped(spark)
    spark.catalog.clearCache()
    assert good.count() == 2
    assert [r.raw_record for r in corrupt.collect()] == ["not json"]


def test_xml_reader_rows_and_attributes(spark, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import read_xml

    p = tmp_path / "books.xml"
    p.write_text(
        '<?xml version="1.0"?>\n<catalog>\n'
        '  <book id="1"><title>First</title><price>10.5</price></book>\n'
        '  <book id="2"><title>Second</title><price>20.0</price></book>\n'
        "</catalog>\n"
    )
    df = read_xml(spark, str(p), "book")
    rows = {r["_id"]: r for r in df.collect()}
    assert rows[1]["title"] == "First" and rows[2]["price"] == 20.0


def test_xml_corrupt_capture(spark, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import (
        read_xml_with_corrupt_capture,
    )

    p = tmp_path / "mixed.xml"
    p.write_text(
        "<catalog>\n"
        "  <book><n>ok</n><qty>3</qty></book>\n"
        "  <book><n>bad</n><qty>not-an-int</qty></book>\n"
        "</catalog>\n"
    )
    good, corrupt = read_xml_with_corrupt_capture(
        spark, str(p), "book", "n string, qty int"
    )
    assert [r["n"] for r in good.collect()] == ["ok"]
    assert corrupt.count() == 1
    # handles must survive cache sweeps (same contract as JSON capture)
    spark.catalog.clearCache()
    assert good.count() == 1 and corrupt.count() == 1


def test_read_source_dispatches_xml(spark, tmp_path):
    from universal_importer_duckdb_spark.sources.readers import read_source

    p = tmp_path / "t.xml"
    p.write_text("<rows><row><a>1</a></row><row><a>2</a></row></rows>")
    assert read_source(spark, str(p)).count() == 2


def test_schema_evolution_merged_read_and_alignment(spark, tmp_path):
    import pytest as _pytest

    from universal_importer_duckdb_spark.sources.evolution import (
        align_to_schema,
        read_parquet_merged,
    )

    d = tmp_path / "evolved"
    spark.createDataFrame([(1, 10)], "id int, v int").write.parquet(
        str(d / "p=1")
    )
    spark.createDataFrame(
        [(2, 20, "x")], "id int, v int, note string"
    ).write.parquet(str(d / "p=2"))

    merged = read_parquet_merged(spark, str(d))
    assert set(merged.columns) >= {"id", "v", "note"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["note"] is None and rows[2]["note"] == "x"

    # alignment: widen int->bigint, add missing col with default,
    # drop extras
    aligned = align_to_schema(
        merged,
        "id bigint, v bigint, score int, note string",
        defaults={"score": 7},
    )
    assert [f.simpleString() for f in aligned.schema.fields] == [
        "id:bigint", "v:bigint", "score:int", "note:string"
    ]
    assert all(r["score"] == 7 for r in aligned.collect())

    # lossy evolution must raise, not truncate
    with _pytest.raises(ValueError, match="lossy"):
        align_to_schema(merged, "id tinyint, v int, note string")


def test_avro_reader_gates_on_missing_module(spark, tmp_path):
    """The Avro swap-point: in this container the external spark-avro
    module is absent, so the reader must surface ONE actionable
    NotImplementedError (deployment instruction), not Spark's generic
    datasource failure — the multimodal optional-codec contract
    applied to a source format. Dispatch by extension must route to
    the same gate."""
    import pytest

    from universal_importer_duckdb_spark.sources.readers import (
        read_avro,
        read_source,
    )

    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "x.avro"))
    with pytest.raises(NotImplementedError, match="spark-avro"):
        read_source(spark, str(tmp_path / "x.avro"))
