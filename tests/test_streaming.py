"""Structured Streaming incremental ingest: exactly-once triples, late-data
windowed aggregation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cognee_spark.sources.corpus import build_repos_df
from cognee_spark.streaming.incremental import incremental_cognify, windowed_event_counts

pytestmark = pytest.mark.streaming

N = 120


def _write_slice(spark, repos, lo, hi, input_dir):
    # deterministic slice of the corpus "arriving" as new files
    repos.where((F.col("_idx") >= lo) & (F.col("_idx") < hi)).drop("_idx").coalesce(
        2
    ).write.mode("append").parquet(input_dir)


def test_incremental_matches_batch(spark, tmp_path):
    input_dir = str(tmp_path / "incoming")
    output_dir = str(tmp_path / "out")
    checkpoint = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    repos = build_repos_df(spark, N).withColumn(
        "_idx", F.row_number().over(__import__("pyspark").sql.window.Window.orderBy("repo", "path"))
    ).localCheckpoint()

    # batch reference over the full corpus
    from cognee_spark.operators.extraction import extract_from_files, mentions_of, raw_edges_of
    from cognee_spark.operators.linking import code_triples, resolve_code_edges

    full = repos.drop("_idx").withColumn("content_sha", F.sha2("content", 256))
    ex = extract_from_files(full)
    expected = {
        (r.subj, r.pred, r.obj)
        for r in code_triples(resolve_code_edges(mentions_of(ex), raw_edges_of(ex)))
        .select("subj", "pred", "obj")
        .collect()
    }

    # two arrivals
    _write_slice(spark, repos, 1, 61, input_dir)
    incremental_cognify(spark, input_dir, output_dir, checkpoint)
    _write_slice(spark, repos, 61, N + 1, input_dir)
    incremental_cognify(spark, input_dir, output_dir, checkpoint)
    # re-run with no new data: must be a no-op (exactly-once)
    incremental_cognify(spark, input_dir, output_dir, checkpoint)

    got_df = spark.read.parquet(f"{output_dir}/triples")
    rows = got_df.count()
    got = {(r.subj, r.pred, r.obj) for r in got_df.select("subj", "pred", "obj").collect()}
    assert rows == len(got), "duplicate triples appended"
    # NOTE: incremental resolution sees only per-batch symbols; cross-batch
    # suffix resolution can drop edges whose target arrived in another batch.
    # Everything it emits must be a subset of batch output, and same-batch
    # relations must all be present.
    assert got <= expected
    assert len(got) >= 0.7 * len(expected)


def test_windowed_event_counts_schema(spark, tmp_path):
    src = str(tmp_path / "events_src")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    )
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only watermark-closed windows; verify schema + run
    table = spark.sql("select * from wincounts")
    assert table.columns == ["window_start", "window_end", "event_type", "n_events", "total_value"]
