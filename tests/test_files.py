"""Generic file sources (sources/files.py): batch + streaming roundtrips."""

import pytest
from pyspark.sql import functions as F

from kstream_spark.sources import files as FS

SCHEMA = "id long, name string, v double"
ROWS = [(1, "a", 1.5), (2, "b", 2.5), (3, "c", None)]


@pytest.mark.parametrize("fmt", ["json", "csv", "orc", "parquet"])
def test_roundtrip_formats(spark, tmp_path, fmt):
    df = spark.createDataFrame(ROWS, SCHEMA)
    p = str(tmp_path / fmt)
    FS.write_table(df, p, fmt)
    back = FS.read_table(spark, p, fmt, schema=SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(ROWS)


def test_stream_to_csv_reads_back_every_row(spark, tmp_path):
    # Stream.to writes through write_table: a header in every file, which
    # read_table's header=true default skips, and no row with it
    from kstream_spark import StreamBuilder
    df = spark.createDataFrame([(i, f"n{i}") for i in range(6)],
                               "id int, name string").repartition(2)
    out = str(tmp_path / "csv")
    StreamBuilder(spark).from_df(df).to(out, fmt="csv", mode="overwrite")
    back = FS.read_table(spark, out, "csv", schema="id int, name string")
    assert sorted(tuple(r) for r in back.collect()) \
        == [(i, f"n{i}") for i in range(6)]


def test_schemaless_row_formats_require_opt_in(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    p = str(tmp_path / "j")
    FS.write_table(df, p, "json")
    with pytest.raises(ValueError, match="infer=True"):
        FS.read_table(spark, p, "json")
    inferred = FS.read_table(spark, p, "json", infer=True)
    assert inferred.count() == 3


def test_partitioned_write_prunes_directories(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    p = str(tmp_path / "part")
    FS.write_table(df, p, "parquet", partition_by=["name"])
    import os
    assert sorted(d for d in os.listdir(p) if d.startswith("name=")) == \
        ["name=a", "name=b", "name=c"]
    pruned = FS.read_table(spark, p, "parquet").filter(F.col("name") == "b")
    assert [r.id for r in pruned.collect()] == [2]


def test_streaming_json_requires_schema_and_reads(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1) \
        .write.mode("overwrite").json(str(src))
    stream = FS.read_stream_files(spark, str(src), "json", SCHEMA,
                                  maxFilesPerTrigger=1)
    assert stream.isStreaming
    q = (stream.writeStream.format("memory").queryName("files_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(10)
    assert spark.sql("SELECT count(*) c FROM files_out").first()["c"] == 3


def test_convert_to_parquet_one_hop(spark, tmp_path):
    src = str(tmp_path / "csv_in")
    dest = str(tmp_path / "pq_out")
    FS.write_table(spark.createDataFrame(ROWS, SCHEMA), src, "csv")
    FS.convert_to_parquet(spark, src, "csv", SCHEMA, dest,
                          partition_by=["name"])
    back = spark.read.parquet(dest)
    assert back.count() == 3


def test_read_json_with_dlq_routes_corrupt_records(spark, tmp_path):
    from kstream_spark.sources.files import read_table_with_dlq
    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "v": "a"}\n'
                 'not json at all\n'
                 '{"id": 2, "v": "b"}\n'
                 '{"id": "x"', encoding="utf-8")
    good, dlq = read_table_with_dlq(spark, str(p), "json",
                                    "id long, v string")
    g = good.toPandas().sort_values("id")
    assert g["id"].tolist() == [1, 2]
    assert "_corrupt_record" not in g.columns
    d = dlq.toPandas()
    assert len(d) == 2
    assert set(d.columns) == {"raw", "source_file"}
    assert any("not json" in r for r in d["raw"])
    # provenance survives the cache: input_file_name() is captured BEFORE
    # the InMemoryRelation interposes (it returns '' on a cached scan)
    assert all(r.endswith("in.jsonl") for r in d["source_file"])


def test_read_csv_with_dlq_routes_bad_rows(spark, tmp_path):
    from kstream_spark.sources.files import read_table_with_dlq
    p = tmp_path / "in.csv"
    p.write_text("id,v\n1,a\njunk_row_with_no_comma_and_bad_arity,x,y,z\n2,b\n",
                 encoding="utf-8")
    good, dlq = read_table_with_dlq(spark, str(p), "csv",
                                    "id long, v string")
    assert sorted(good.toPandas()["id"].dropna().tolist()) == [1, 2]
    assert dlq.count() == 1
