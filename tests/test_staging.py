"""The table walk shared by the session-cache fingerprint, the stream
sources and the byte sizer."""

from __future__ import annotations

import os

from kafka_connect_minio_pipeline_spark.staging import table_parts
from kafka_connect_minio_pipeline_spark.streaming.runner import source_bytes


def test_table_parts_file_directory_and_empty(tmp_path):
    single = tmp_path / "one.parquet"
    single.write_bytes(b"x" * 3)
    assert table_parts(str(tmp_path), "one") == [str(single)]

    parts = tmp_path / "many.parquet"
    parts.mkdir()
    for f in ("part-00001.parquet", "part-00000.parquet"):
        (parts / f).write_bytes(b"y" * 5)
    # Spark's commit marker and checksum side files are not data
    (parts / "_SUCCESS").write_bytes(b"")
    (parts / ".part-00000.parquet.crc").write_bytes(b"z" * 7)
    assert table_parts(str(tmp_path), "many") == [
        os.path.join(parts, "part-00000.parquet"),
        os.path.join(parts, "part-00001.parquet"),
    ]
    assert source_bytes(str(tmp_path), "one", "many") == 3 + 2 * 5

    (tmp_path / "none.parquet").mkdir()
    assert table_parts(str(tmp_path), "none") == []
