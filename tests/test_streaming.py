"""Structured Streaming surface tests: file-stream ORCLOG parse, firmware
round-trip sink, watermarked windows (batch == stream), stateful PID
continuing across micro-batches."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from orc_spark.operators.control import Z_XL_GAINS, pid_params, pid_scan
from orc_spark.sources.orclog import parse_orclog, read_log_lines
from orc_spark.sources.tables import load_table
from orc_spark.streaming.orclog_stream import (
    stream_orclog_parse,
    write_orclog_format_distributed,
)
from orc_spark.streaming.windows import pid_streaming, stream_event_windows


@pytest.fixture()
def tmpdirs(tmp_path):
    d = {
        "in": str(tmp_path / "in"),
        "chk": str(tmp_path / "chk"),
        "out": str(tmp_path / "out"),
    }
    os.makedirs(d["in"])
    return d


def _make_log(path, runs=(3, 2), enabled=True, interval=0.01, newline="\n"):
    with open(path, "w", newline=newline) as fh:
        fh.write("Log #: 7\n")
        fh.write(f"Actuators {'enabled' if enabled else 'disabled'}\n")
        fh.write(f"Interval:{interval:f}\n")
        fh.write("Acceleration, Pitch, Roll\n")
        v = 0.0
        for ri, n in enumerate(runs):
            if ri > 0:
                fh.write("Log Paused, now resuming:\n")
            for _ in range(n):
                fh.write(f"{v:.4f}, {v + 1:.4f}, {v - 1:.4f}\n")
                v += 0.1


def test_stream_orclog_parse(spark, tmpdirs):
    _make_log(os.path.join(tmpdirs["in"], "log1.csv"))
    _make_log(os.path.join(tmpdirs["in"], "log2.csv"), runs=(4,), enabled=False)
    q = stream_orclog_parse(spark, tmpdirs["in"], tmpdirs["chk"], tmpdirs["out"], "orc")
    q.awaitTermination(120)
    out = spark.read.orc(tmpdirs["out"])
    assert out.count() == 3 + 2 + 4
    got = {
        (r["actuators_enabled"], r["run_idx"]): r["n"]
        for r in out.groupBy("actuators_enabled", "run_idx").agg(F.count("*").alias("n")).collect()
    }
    assert got == {(True, 0): 3, (True, 1): 2, (False, 0): 4}
    # incremental arrival: a new file is picked up without reprocessing
    _make_log(os.path.join(tmpdirs["in"], "log3.csv"), runs=(5,))
    q2 = stream_orclog_parse(spark, tmpdirs["in"], tmpdirs["chk"], tmpdirs["out"], "orc")
    q2.awaitTermination(120)
    assert spark.read.orc(tmpdirs["out"]).count() == 9 + 5


def test_stream_orclog_parse_crlf_matches_batch(spark, tmpdirs):
    """A CRLF log drained by the stream equals the batch parse of the same
    file: both paths split lines with the one shared rule."""
    path = os.path.join(tmpdirs["in"], "crlf.csv")
    _make_log(path, runs=(3, 2, 4), interval=0.25, newline="\r\n")
    with open(path, "rb") as fh:
        assert b"\r\n" in fh.read()
    assert not read_log_lines(spark, path).where(F.col("value").contains("\r")).count()
    q = stream_orclog_parse(spark, tmpdirs["in"], tmpdirs["chk"], tmpdirs["out"], "orc")
    q.awaitTermination(120)
    got = spark.read.orc(tmpdirs["out"]).drop("file").orderBy("line_no").toPandas()
    exp = parse_orclog(spark, path).drop("file").orderBy("line_no").toPandas()
    assert len(exp) == 3 + 2 + 4
    assert (exp["interval_s"] == 0.25).all()
    pd.testing.assert_frame_equal(got[list(exp.columns)], exp)


def test_stream_windows_match_batch(spark, sf_small, tmpdirs):
    """Tumbling windows computed over a file stream == the batch result."""
    ev = load_table(spark, sf_small, "events").withColumn(
        "ts", F.timestamp_micros(F.col("ts"))  # ts is bigint epoch micros
    )
    ev.write.parquet(os.path.join(tmpdirs["in"], "p"))
    batch = stream_event_windows(ev, "tumbling").orderBy("window_start_ms", "event_type")
    stream = (
        spark.readStream.schema(ev.schema)
        .parquet(os.path.join(tmpdirs["in"], "p"))
    )
    q = (
        stream_event_windows(stream, "tumbling")
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .option("checkpointLocation", tmpdirs["chk"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.table("win_out").orderBy("window_start_ms", "event_type").toPandas()
    )
    exp = batch.toPandas()
    pd.testing.assert_frame_equal(got, exp)


def test_pid_streaming_state_across_batches(spark, tmpdirs):
    """The stateful streaming PID over 2 sequential micro-batches equals one
    batch pid_scan over the concatenated series."""
    rng = np.random.default_rng(5)
    n1, n2 = 50, 70
    meas = rng.normal(0, 1, n1 + n2)
    params = pid_params(*Z_XL_GAINS, 0.01, -30000.0, 30000.0)
    pdf1 = pd.DataFrame({"k": 1, "ord": np.arange(n1), "meas": meas[:n1]})
    pdf2 = pd.DataFrame({"k": 1, "ord": np.arange(n1, n1 + n2), "meas": meas[n1:]})
    src = os.path.join(tmpdirs["in"], "pid")
    spark.createDataFrame(pdf1).coalesce(1).write.parquet(src)

    sink = os.path.join(tmpdirs["out"], "pid_sink")

    def run_stream():
        stream = spark.readStream.schema("k bigint, ord bigint, meas double").parquet(src)
        out = pid_streaming(stream, "k", params)
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", tmpdirs["chk"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream()
    spark.createDataFrame(pdf2).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    got = spark.read.parquet(sink).orderBy("ord").toPandas()
    assert len(got) == n1 + n2
    exp = pid_scan(meas, 0.0, params, f32=False)
    np.testing.assert_allclose(got["pid_out"].to_numpy(), exp, rtol=1e-12)


def test_ahrs_streaming_state_across_batches(spark, tmpdirs):
    """The stateful streaming AHRS over 2 sequential micro-batches equals one
    batch recurrence over the concatenated series (anchor
    FusionAhrs.c:113-217): the 8-value state tuple carries the filter across
    the micro-batch boundary bit-exactly."""
    from orc_spark.operators.ahrs import AhrsSettings, ahrs_scan_fast_f64
    from orc_spark.streaming.windows import ahrs_streaming

    rng = np.random.default_rng(11)
    n1, n2 = 60, 80
    n = n1 + n2
    gyro = rng.normal(0, 20, (n, 3))
    accel = rng.normal(0, 0.05, (n, 3)) + np.array([0.0, 0.0, 1.0])
    cols = {
        "k": 1,
        "ord": np.arange(n),
        "gy_x": gyro[:, 0], "gy_y": gyro[:, 1], "gy_z": gyro[:, 2],
        "ax_x": accel[:, 0], "ax_y": accel[:, 1], "ax_z": accel[:, 2],
    }
    full = pd.DataFrame(cols)
    src = os.path.join(tmpdirs["in"], "ahrs")
    sink = os.path.join(tmpdirs["out"], "ahrs_sink")
    spark.createDataFrame(full.iloc[:n1]).coalesce(1).write.parquet(src)

    def run_stream():
        schema = (
            "k bigint, ord bigint, gy_x double, gy_y double, gy_z double, "
            "ax_x double, ax_y double, ax_z double"
        )
        stream = spark.readStream.schema(schema).parquet(src)
        out = ahrs_streaming(stream, "k")
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", tmpdirs["chk"] + "_ahrs")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_stream()
    spark.createDataFrame(full.iloc[n1:]).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    got = spark.read.parquet(sink).orderBy("ord").toPandas()
    assert len(got) == n
    exp = ahrs_scan_fast_f64(gyro, accel, AhrsSettings())
    for col in ("qw", "qx", "qy", "qz", "roll_deg", "pitch_deg", "lin_z"):
        np.testing.assert_allclose(
            got[col].to_numpy(), exp[col], rtol=1e-12, err_msg=col
        )


def test_orclog_distributed_sink_roundtrip(spark, tmp_path):
    """The executor-side firmware sink writes one byte-compatible log per
    (file, actuators_enabled) group; re-parsing the output directory yields
    the source values (VERDICT r01 item 5: no driver-side collect)."""
    pdf = pd.DataFrame(
        {
            "file": ["logA"] * 6 + ["logB"] * 4,
            "actuators_enabled": [True] * 3 + [False] * 3 + [True] * 4,
            "run_idx": [0, 0, 1, 0, 1, 1, 0, 0, 1, 2],
            "sample_idx": [0, 1, 0, 0, 0, 1, 0, 1, 0, 0],
            "accel_g": np.round(np.linspace(-1, 1, 10), 4),
            "pitch_deg": np.round(np.linspace(-30, 30, 10), 4),
            "roll_deg": np.round(np.linspace(5, -5, 10), 4),
        }
    )
    out_dir = str(tmp_path / "fwlogs")
    manifest = write_orclog_format_distributed(
        spark.createDataFrame(pdf), out_dir, interval_s=0.01
    ).toPandas()
    # one file per (file, enabled) group, counts match
    assert len(manifest) == 3
    assert manifest["n_rows"].sum() == 10
    back = parse_orclog(spark, sorted(manifest["out_path"])).toPandas()
    assert len(back) == 10
    got = back.sort_values(["accel_g"]).reset_index(drop=True)
    exp = pdf.sort_values(["accel_g"]).reset_index(drop=True)
    np.testing.assert_allclose(got["accel_g"], exp["accel_g"], atol=1e-12)
    np.testing.assert_allclose(got["pitch_deg"], exp["pitch_deg"], atol=1e-12)
    np.testing.assert_allclose(got["roll_deg"], exp["roll_deg"], atol=1e-12)
    assert (got["interval_s"] == 0.01).all()
    # accel_g rises with source order, so sorting by it lines the rows up:
    # run and in-run sample order survived the write
    assert got["run_idx"].tolist() == exp["run_idx"].tolist()
    assert got["sample_idx"].tolist() == exp["sample_idx"].tolist()
    # run separators survived: each group re-parses with its max run index
    per_group = back.groupby(["file"])["run_idx"].max()
    assert set(per_group) == {1, 2}


def test_streaming_sketch_build_matches_batch(spark, sf_small, tmpdirs):
    """The mergeable sketches (count-min cells, Bloom set bits) are pure
    incremental streaming aggregations: built over a file stream one file
    per micro-batch, the final state equals the batch build — the
    production shape for maintaining sketches over an event firehose."""
    from orc_spark.plans.relational3 import bloom_positions, cms_positions

    ev = load_table(spark, sf_small, "events").select("user_id")
    # 4 files -> 4 micro-batches: the aggregation state must carry across
    src = os.path.join(tmpdirs["in"], "p")
    ev.repartition(4).write.parquet(src)

    batch_cells = (
        cms_positions(ev).groupBy("j", "col").count()
        .orderBy("j", "col").toPandas()
    )
    batch_bits = (
        bloom_positions(ev).select("j", "pos").distinct()
        .orderBy("j", "pos").toPandas()
    )

    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q1 = (
        cms_positions(stream).groupBy("j", "col").count()
        .writeStream.format("memory").queryName("cms_stream")
        .outputMode("complete")
        .option("checkpointLocation", tmpdirs["chk"] + "_cms")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(180)
    got_cells = spark.table("cms_stream").orderBy("j", "col").toPandas()
    pd.testing.assert_frame_equal(got_cells, batch_cells)

    q2 = (
        bloom_positions(stream).groupBy("j", "pos").count()
        .writeStream.format("memory").queryName("bloom_stream")
        .outputMode("complete")
        .option("checkpointLocation", tmpdirs["chk"] + "_bloom")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got_bits = (
        spark.table("bloom_stream").select("j", "pos")
        .orderBy("j", "pos").toPandas()
    )
    pd.testing.assert_frame_equal(got_bits, batch_bits)


def test_streaming_histogram_bins_match_batch(spark, sf_small, tmpdirs):
    """The histogram quantile sketch's bin counts are sum-mergeable, so the
    streaming build (fixed pre-declared domain, one file per micro-batch)
    must equal the batch bin table — the incremental-maintenance face of
    sk_histq. (The two-pass min/max becomes a declared domain in streaming,
    exactly as SCALING.md describes.)"""
    from pyspark.sql import functions as F

    from orc_spark.plans.relational3 import HISTQ_BINS

    li = load_table(spark, sf_small, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    mn, mx = li.agg(F.min("x"), F.max("x")).collect()[0]

    def bins(df):
        return (
            df.select(
                F.least(
                    F.floor((F.col("x") - mn) / (mx - mn) * HISTQ_BINS),
                    F.lit(HISTQ_BINS - 1),
                ).cast("int").alias("bin")
            )
            .groupBy("bin")
            .count()
        )

    src = os.path.join(tmpdirs["in"], "hq")
    li.repartition(4).write.parquet(src)
    batch = bins(li).orderBy("bin").toPandas()
    stream = (
        spark.readStream.schema("x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        bins(stream)
        .writeStream.format("memory").queryName("histq_stream")
        .outputMode("complete")
        .option("checkpointLocation", tmpdirs["chk"] + "_histq")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("histq_stream").orderBy("bin").toPandas()
    pd.testing.assert_frame_equal(got, batch)
