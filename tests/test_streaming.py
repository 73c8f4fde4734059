"""Streaming semantics that need controlled multi-batch arrival order:
watermark late-data drops, exactly-once file-sink restarts, and the
metadata logs and throwaway checkpoints the runs leave behind.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _write_batch(spark, path: str, rows: list[tuple[int, str]]) -> None:
    (
        spark.createDataFrame(rows, "id long, ts_s string")
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows arriving a full hour behind the watermark must be dropped from
    the windowed aggregation. Arrival order is forced by writing the late
    file only after the first micro-batch has been processed."""
    src = str(tmp_path / "src")
    on_time = [(i, f"2024-01-01 12:{i:02d}:00") for i in range(10)]
    late = [(100 + i, f"2024-01-01 11:{i:02d}:00") for i in range(5)]

    def run(with_watermark: bool) -> dict:
        path = src + f"_{with_watermark}"
        _write_batch(spark, path, on_time)
        sdf = spark.readStream.schema("id long, ts timestamp").parquet(path)
        if with_watermark:
            sdf = sdf.withWatermark("ts", "10 minutes")
        agg = sdf.groupBy(F.window("ts", "30 minutes")).agg(F.count("*").alias("n"))
        name = f"wm_{with_watermark}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp())
            .start()
        )
        try:
            q.processAllAvailable()  # batch 0: on-time rows, watermark -> 11:59
            _write_batch(spark, path, late)
            q.processAllAvailable()  # batch 1: late rows, subject to watermark
        finally:
            q.stop()
        return {
            r["window"]["start"].strftime("%H:%M"): r["n"]
            for r in spark.table(name).collect()
        }

    without_wm = run(False)
    assert any(k.startswith("11:") for k in without_wm), without_wm
    with_wm = run(True)
    assert not any(k.startswith("11:") for k in with_wm), with_wm
    assert with_wm.get("12:00") == 10


def test_foreach_batch_sink_idempotent_per_batch(spark, sf_dir, tmp_path):
    """foreachBatch writer keyed on batch_id: the streamed result equals
    the batch result, and a simulated batch re-delivery (same batch_id)
    leaves the sink unchanged instead of duplicating rows."""
    from kafka_connect_minio_pipeline_spark.pipeline.profile import (
        profile_transform,
        users_from_customer,
    )
    from kafka_connect_minio_pipeline_spark.sources.files import stream_table
    from kafka_connect_minio_pipeline_spark.streaming.runner import (
        run_foreach_batch,
    )

    out = str(tmp_path / "fb_sink")
    sdf = profile_transform(users_from_customer(stream_table(spark, sf_dir, "customer")))
    run_foreach_batch(sdf, out)
    batch_expected = profile_transform(
        users_from_customer(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    ).count()
    n1 = spark.read.parquet(out).count()
    assert n1 == batch_expected > 0

    # simulate Structured Streaming re-delivering batch 0 after a failure:
    # same data, same batch_id -> overwrite, not append
    import glob

    batch_dirs = glob.glob(f"{out}/batch_id=*")
    assert batch_dirs
    bid = batch_dirs[0].rsplit("=", 1)[1]
    redelivered = profile_transform(
        users_from_customer(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    )
    redelivered.write.mode("overwrite").parquet(f"{out}/batch_id={bid}")
    assert spark.read.parquet(out).count() == n1


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """The RocksDB provider (the large-state deployment choice) must
    produce bit-identical results to the default in-heap provider for a
    stateful windowed aggregation."""
    from kafka_connect_minio_pipeline_spark.streaming import windows as W
    from kafka_connect_minio_pipeline_spark.streaming.runner import (
        ROCKSDB_PROVIDER,
        rocksdb_state,
        run_to_memory,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    default = rows(run_to_memory(W.tumbling_counts(spark, sf_dir)))
    with rocksdb_state(spark):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        rocks = rows(run_to_memory(W.tumbling_counts(spark, sf_dir)))
    assert rocks == default and len(rocks) > 0
    # conf restored after the block (back to the default provider)
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        != ROCKSDB_PROVIDER
    )


def test_tombstone_passthrough_streaming_e2e(spark, tmp_path):
    """A8 under a real stream: a null-value record entering the streaming
    pipeline must reach the sink as a key-only row (golden fixture,
    reference UserProfileTransform.java:25)."""
    from pyspark.sql import types as T

    from kafka_connect_minio_pipeline_spark.pipeline.profile import (
        profile_transform_records,
    )
    from kafka_connect_minio_pipeline_spark.streaming.runner import run_to_memory

    value_t = T.StructType(
        [
            T.StructField("user_id", T.StringType()),
            T.StructField("first_name", T.StringType()),
            T.StructField("last_name", T.StringType()),
            T.StructField("email", T.StringType()),
            T.StructField("age", T.IntegerType()),
        ]
    )
    schema = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("value", value_t, True)]
    )
    src = str(tmp_path / "records")
    spark.createDataFrame(
        [
            ("k1", ("u1", "Ann", "Lee", "a@x.com", 30)),
            ("k2", None),
            ("k3", ("u3", "", "Lee", "c@x.com", 20)),
        ],
        schema,
    ).write.parquet(src)
    sdf = spark.readStream.schema(schema).parquet(src)
    out = run_to_memory(profile_transform_records(sdf), output_mode="append")
    got = {r["key"]: r for r in out.collect()}
    assert set(got) == {"k1", "k2"}
    assert got["k2"]["is_tombstone"] is True and got["k2"]["user_id"] is None
    assert got["k1"]["email"] == "redacted@email.com"


def test_sink_malformed_lines_skipped_and_counted(spark, tmp_path):
    """A6: the reference verifier skips unparseable sink lines
    (verifier_ui.py:94-96). read_json_sink must drop them under the pinned
    schema, and sink_corruption_stats must count them."""
    from kafka_connect_minio_pipeline_spark.streaming.pipeline import (
        read_json_sink,
        sink_corruption_stats,
    )

    d = tmp_path / "sink"
    d.mkdir()
    clean = (
        '{"user_id":"1","first_name":"A","last_name":"B","email":"redacted@email.com",'
        '"age":20,"full_name":"A B","is_adult":true}'
    )
    (d / "part-0.json").write_text(clean + "\n" + clean + "\n")
    (d / "part-1.json").write_text('{"user_id": CORRUPT!!\n' + clean + "\n{broken\n")

    out = read_json_sink(spark, str(d))
    assert out.count() == 3
    assert out.filter(F.col("user_id").isNull()).count() == 0

    n_clean, n_corrupt = sink_corruption_stats(spark, str(d))
    assert (n_clean, n_corrupt) == (3, 2)


def test_file_sink_exactly_once_on_rerun(spark, sf_dir):
    """Re-running the checkpointed pipeline over an unchanged source must
    not duplicate sink rows (the commit-log upgrade over the reference's
    at-least-once Connect sink, SURVEY.md A7)."""
    from kafka_connect_minio_pipeline_spark.pipeline.profile import (
        profile_transform,
        users_from_customer,
    )

    # stable source dir: the checkpoint ties the query to one source path
    src = tempfile.mkdtemp(prefix="eo_src_")
    os.symlink(f"{sf_dir}/customer.parquet", f"{src}/customer.parquet")
    schema = spark.read.parquet(f"{sf_dir}/customer.parquet").schema
    out = tempfile.mkdtemp(prefix="eo_sink_")
    ckpt = tempfile.mkdtemp(prefix="eo_ckpt_")

    def run_once():
        sdf = spark.readStream.schema(schema).parquet(src)
        df = profile_transform(users_from_customer(sdf))
        q = (
            df.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish"

    run_once()
    n1 = spark.read.json(out).count()
    run_once()  # same checkpoint: everything already committed
    n2 = spark.read.json(out).count()
    assert n1 > 0
    assert n2 == n1, f"rerun duplicated rows: {n1} -> {n2}"


def _committed_logs(log_dir: str) -> set[str]:
    """The batch files of one metadata log; asserts that nothing else (a
    rename's temporary file) is left beside them and their checksums."""
    names = set(os.listdir(log_dir))
    committed = {n for n in names if not n.startswith(".")}
    assert names - committed <= {f".{n}.crc" for n in committed}, sorted(names)
    return committed


def test_file_sink_logs_hold_exactly_the_committed_batches(spark, tmp_path):
    """A file-sink run on a durable checkpoint leaves one file per batch in
    each log its micro-batches wrote, and no temporary file of a rename."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    n_files = 3
    for i in range(n_files):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(f"{src}/f{i}")
    q = (
        spark.readStream.schema("id long")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish"
    batches = {str(i) for i in range(n_files)}
    for log in ("offsets", "commits", "sources/0"):
        assert _committed_logs(f"{ckpt}/{log}") == batches, log
    assert _committed_logs(f"{out}/_spark_metadata") == batches
    assert spark.read.json(out).count() == 10 * n_files


def test_available_now_run_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """The runner's throwaway checkpoint lives in scratch for the run alone."""
    from kafka_connect_minio_pipeline_spark import scratch
    from kafka_connect_minio_pipeline_spark.streaming.runner import (
        run_available_now,
    )

    base = tmp_path / "scratch"
    base.mkdir()
    monkeypatch.setattr(scratch, "_base", lambda: str(base))
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    seen = []
    writer = spark.readStream.schema("id long").parquet(src).writeStream.foreachBatch(
        lambda bdf, batch_id: seen.append(sorted(os.listdir(base)))
    )
    run_available_now(writer, 120)
    assert len(seen) == 1 and len(seen[0]) == 1, seen
    assert seen[0][0].startswith("kcm_ckpt_")
    assert os.listdir(base) == []


def test_stream_quality_equals_batch_filter(spark, sf_dir):
    """The streaming quality gate (stateless, append mode) must converge
    to exactly the batch quality_features + filter result."""
    from kafka_connect_minio_pipeline_spark.operators.text import quality_features
    from kafka_connect_minio_pipeline_spark.streaming.queries import (
        QUALITY_THRESHOLD,
        q_stream_quality,
    )
    from kafka_connect_minio_pipeline_spark.tables import load

    got = {
        r["doc_id"]: r["quality_score"]
        for r in q_stream_quality(spark, sf_dir).collect()
    }
    want = {
        r["doc_id"]: r["quality_score"]
        for r in quality_features(load(spark, sf_dir, "documents"))
        .filter(f"quality_score >= {QUALITY_THRESHOLD}")
        .collect()
    }
    assert got == want and len(got) > 0


def test_file_sink_incremental_restart_processes_only_new_files(spark, sf_dir):
    """The stronger A7 property: files landing BETWEEN runs are picked up
    by the checkpoint-restarted query exactly once — run 2 emits only the
    new file's survivors, run 3 (nothing new) emits nothing."""
    from kafka_connect_minio_pipeline_spark.pipeline.profile import (
        profile_transform,
        users_from_customer,
    )

    src = tempfile.mkdtemp(prefix="eo_inc_src_")
    schema = spark.read.parquet(f"{sf_dir}/customer.parquet").schema
    half = spark.read.parquet(f"{sf_dir}/customer.parquet")
    a = half.filter("c_custkey % 2 = 0")
    b = half.filter("c_custkey % 2 = 1")
    a.write.parquet(f"{src}/batch_a")
    out = tempfile.mkdtemp(prefix="eo_inc_sink_")
    ckpt = tempfile.mkdtemp(prefix="eo_inc_ckpt_")

    def run_once():
        sdf = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        df = profile_transform(users_from_customer(sdf))
        q = (
            df.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish"

    def expected(frame):
        return profile_transform(users_from_customer(frame)).count()

    run_once()
    n1 = spark.read.json(out).count()
    assert n1 == expected(a) > 0
    b.write.parquet(f"{src}/batch_b")   # lands between runs
    run_once()
    n2 = spark.read.json(out).count()
    assert n2 == expected(a) + expected(b), (n1, n2)
    run_once()                          # nothing new
    assert spark.read.json(out).count() == n2


def test_versioned_merge_is_order_robust_across_batch_splits(spark):
    """Applying the changelog NEWEST-HALF-FIRST through two sequential
    versioned_merge steps must reach the same snapshot as oldest-first
    and as one-shot — the version-column max_by is associative and
    order-free, which is the whole reason the streaming MERGE sink is
    batch-equivalent however the source batches."""
    from pyspark.sql import functions as F

    from kafka_connect_minio_pipeline_spark.streaming.queries import (
        versioned_merge,
    )

    snap_schema = (
        "key bigint, val decimal(18,2), ord_us bigint, ord_id bigint,"
        " tomb boolean"
    )
    from decimal import Decimal as D

    base = spark.createDataFrame(
        [(1, D("10.00"), None, None, False), (2, D("20.00"), None, None, False)],
        snap_schema,
    )
    # key 1: update@t1 then delete@t2 (delete wins); key 3: insert@t1
    # then update@t3 (update wins); key 2 untouched
    changes = spark.createDataFrame(
        [(1, D("11.00"), 1, 101, False), (1, None, 2, 102, True),
         (3, D("30.00"), 1, 103, False), (3, D("33.00"), 3, 104, False)],
        snap_schema,
    )
    older = changes.filter(F.col("ord_us") <= 1)
    newer = changes.filter(F.col("ord_us") > 1)

    def final(df):
        return sorted(
            (r["key"], float(r["val"]) if r["val"] is not None else None)
            for r in df.filter(~F.col("tomb")).collect()
        )

    oneshot = final(versioned_merge(base, changes))
    oldest_first = final(versioned_merge(versioned_merge(base, older), newer))
    newest_first = final(versioned_merge(versioned_merge(base, newer), older))
    assert oneshot == oldest_first == newest_first == [(2, 20.0), (3, 33.0)]


def test_stream_dedup_minhash_batch_equivalence(spark, sf_dir):
    """The r11 streaming near-dup gate must agree with the batch LSH
    pipeline: every VERIFIED batch near-dup pair's larger doc is flagged
    by the gate (bucket candidates are a superset of verified pairs),
    every flagged doc genuinely shares a band bucket with a smaller-id
    doc (independent rebuild from the batch claim relation), and docs
    flagged by neither are clean."""
    from kafka_connect_minio_pipeline_spark.operators.dedup import (
        _doc_shingle_sets,
        minhash_band_rows,
        q_dedup_minhash_lsh,
    )
    from kafka_connect_minio_pipeline_spark.streaming.queries import (
        q_stream_dedup_minhash,
    )

    got = {r["doc_id"]: r for r in q_stream_dedup_minhash(spark, sf_dir).collect()}
    flagged = {d for d, r in got.items() if r["is_near_dup"]}
    # independent expectation: per-bucket minima from the batch claims
    claims = minhash_band_rows(_doc_shingle_sets(spark, sf_dir)).collect()
    mins: dict[tuple, int] = {}
    for r in claims:
        k = (r["band_idx"], r["band_val"])
        mins[k] = min(mins.get(k, r["doc_id"]), r["doc_id"])
    expect = {
        r["doc_id"]
        for r in claims
        if mins[(r["band_idx"], r["band_val"])] < r["doc_id"]
    }
    assert flagged == expect
    # verified batch pairs: the larger side is always gated
    verified = q_dedup_minhash_lsh(spark, sf_dir).collect()
    assert {r["d2"] for r in verified} <= flagged


def test_stream_dedup_minhash_planted_duplicate(spark, tmp_path):
    """A verbatim copy arriving later (larger doc_id) must be flagged;
    the original and an unrelated doc must pass."""
    from kafka_connect_minio_pipeline_spark.streaming.queries import (
        q_stream_dedup_minhash,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "en", text),
        (2, "en", "one two three four five six seven eight nine ten"),
        (9, "en", text),  # the late duplicate
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {r["doc_id"]: r for r in q_stream_dedup_minhash(spark, str(tmp_path)).collect()}
    assert got[9].is_near_dup is True and got[9].n_dup_bands == 4
    assert got[1].is_near_dup is False
    assert got[2].is_near_dup is False


def test_stream_decontaminate_planted_contamination(spark, tmp_path):
    """Ingest-time decon gate on a planted fixture: doc_id 0 plays the
    benchmark (0 % 97 == 0); a corpus doc embedding one of its 8-grams
    verbatim is flagged with the exact shared-gram count, a clean doc
    and a too-short doc report explicit 0/false, and benchmark rows
    never appear in the output."""
    from kafka_connect_minio_pipeline_spark.streaming.queries import (
        q_stream_decontaminate,
    )

    bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "en", bench),  # the benchmark doc
        # shares the 8-gram window alpha..theta (3 distinct shared 8-grams:
        # the contaminated doc repeats the full 10-word span verbatim)
        (1, "en", "intro words " + bench + " trailing words"),
        (2, "en", "one two three four five six seven eight nine ten"),
        (3, "en", "short text"),  # no 8-gram at all
    ]
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["doc_id"]: r
        for r in q_stream_decontaminate(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2, 3}  # benchmark rows excluded from output
    assert got[1]["contaminated"] is True and got[1]["n_shared"] == 3
    assert got[2]["contaminated"] is False and got[2]["n_shared"] == 0
    assert got[3]["contaminated"] is False and got[3]["n_shared"] == 0


def test_stream_decontaminate_batch_equivalence(spark, sf_dir):
    """The streaming gate must converge to the batch operator's answer
    exactly — same flags, same shared-gram counts, every doc."""
    from kafka_connect_minio_pipeline_spark.operators.llmdata import (
        q_llm_decontaminate,
    )
    from kafka_connect_minio_pipeline_spark.streaming.queries import (
        q_stream_decontaminate,
    )

    want = {
        r["doc_id"]: (r["lang"], r["n_shared"], r["contaminated"])
        for r in q_llm_decontaminate(spark, sf_dir).collect()
    }
    got = {
        r["doc_id"]: (r["lang"], r["n_shared"], r["contaminated"])
        for r in q_stream_decontaminate(spark, sf_dir).collect()
    }
    assert got == want
