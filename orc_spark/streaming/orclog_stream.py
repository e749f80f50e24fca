"""Streaming ORCLOG ingestion + firmware-format log sink.

Streaming model (SURVEY §2.A O12-O15): the log format is order-dependent
WITHIN a file and independent ACROSS files, so the streaming unit is the
file. `spark.readStream.text(..., wholetext=True)` delivers one row per
newly-arrived file per micro-batch; the batch reader's `explode_lines`
recovers exact line numbers declaratively (no RDD), and the batch parser's
window plan runs unchanged inside each micro-batch. Rate limiting (the
firmware's bounded queue, O12) maps to `maxFilesPerTrigger`.

The sink side (O13/O14) writes byte-compatible firmware logs — "%.4f, %.4f,
%.4f" rows framed by `Log #:` / `Actuators` / `Interval:` / header markers
and `Log Paused` run separators — so engine output can be re-read by the
reference's own tooling. Round-trip parse(write(x)) == x is tested.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orc_spark.sources.orclog import explode_lines, parse_orclog


def stream_orclog_parse(
    spark: SparkSession,
    in_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    out_format: str = "orc",
    max_files_per_trigger: int = 10,
):
    """File-stream replay: watch ``in_dir`` for new ORCLOG files, parse each
    to the canonical table, append to ``out_dir`` (default ORC — the north-star
    format). Returns the StreamingQuery."""
    files = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(in_dir)
        .select(F.col("_metadata.file_path").alias("file"), "value")
    )

    def handle_batch(batch_df: DataFrame, _batch_id: int) -> None:
        lines = explode_lines(batch_df)
        parsed = parse_orclog(batch_df.sparkSession, lines=lines)
        parsed.write.mode("append").format(out_format).save(out_dir)

    return (
        files.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_orclog_format_distributed(
    df: DataFrame,
    out_dir: str,
    interval_s: float = 0.000282,
) -> DataFrame:
    """Firmware-format log sink that renders and writes ENTIRELY on the
    executors: one byte-compatible CSV (ORC_Main.c:774-856 framing) per
    (file, actuators_enabled) group, written from the grouped map that owns
    the group — only the tiny manifest (group → path, row count) crosses the
    driver (VERDICT r01 item 5: no driver-side collect).

    Scale contract: a group is one source log's population — bounded by what
    the firmware wrote to one SD file — and groups parallelize freely;
    ``out_dir`` must be a shared filesystem on a real cluster (DFS mount),
    the same requirement as any foreachPartition-style file sink. Returns
    the manifest DataFrame; materializing it performs the writes."""
    import hashlib

    import numpy as np
    import pandas as pd

    rows = df.select(
        "file",
        "actuators_enabled",
        "run_idx",
        "sample_idx",
        F.format_string(
            "%.4f, %.4f, %.4f",
            F.col("accel_g"),
            F.col("pitch_deg"),
            F.col("roll_deg"),
        ).alias("line"),
    )
    schema = (
        "src_file string, actuators_enabled boolean, out_path string, "
        "n_rows long"
    )

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["run_idx", "sample_idx"])
        src = str(pdf["file"].iloc[0])
        enabled = bool(pdf["actuators_enabled"].iloc[0])
        tag = hashlib.md5(src.encode()).hexdigest()[:12]
        path = os.path.join(
            out_dir, f"ORCLOG_{tag}_{'on' if enabled else 'off'}.CSV"
        )
        lid = int(tag, 16) % 10000  # deterministic stand-in for rand%10000
        out = [
            f"Log #: {lid}",
            f"Actuators {'enabled' if enabled else 'disabled'}",
            f"Interval:{interval_s:f}",
            "Acceleration, Pitch, Roll",
        ]
        run = pdf["run_idx"].to_numpy()
        lines = pdf["line"].tolist()
        breaks = (np.flatnonzero(np.diff(run) != 0) + 1).tolist()
        prev = 0
        for b in breaks + [len(lines)]:
            out.extend(lines[prev:b])
            if b < len(lines):
                out.append("Log Paused, now resuming:")
            prev = b
        os.makedirs(out_dir, exist_ok=True)
        with open(path, "w") as fh:
            fh.write("\n".join(out) + "\n")
        return pd.DataFrame(
            [
                {
                    "src_file": src,
                    "actuators_enabled": enabled,
                    "out_path": path,
                    "n_rows": len(lines),
                }
            ]
        )

    return rows.groupBy("file", "actuators_enabled").applyInPandas(render, schema)
