"""Sessionized ORCLOG parser (reference operator O15/O17).

Reproduces the reference's state-machine parse of the firmware CSV logs
(`Python Plotting/main.py:22-65`; markers written by
`ESP source/main/ORC_Main.c:774-856`) as a declarative Spark plan:

    text lines + per-file line numbers
      → marker indicator columns
      → cumulative-window propagation of (log_id, group, interval, run_idx)
      → filter to valid data rows
      → per-run sample index and synthesized time axis

Reference semantics preserved exactly:
  * ``Log #: N``   starts a log block and resets the run counter
    (``sample_number = 0``, main.py:30-31).
  * ``Actuators ...`` sets the treatment group; the variable persists across
    blocks (main.py:33-34).
  * ``Interval:x`` parses the float after ':'; on parse FAILURE the interval
    resets to the 1.0 default (main.py:36-45) — it does not keep the old one.
  * ``Log Paused...`` increments the run counter (main.py:57-64).
  * A data row is any line with exactly 3 comma-separated floats, accepted
    only once both a log marker and an actuator status have been seen
    (main.py:47-49); unparsable 3-field rows are skipped (main.py:55-56);
    anything else is ignored (main.py:65).
  * ``time_s = per-run sample ordinal × interval`` (main.py:54) — there are
    no wall-clock timestamps anywhere in the data.
  * Runs are keyed per GROUP by the run counter (main.py:50-53): if one group
    spans several log blocks, block N's run *i* concatenates onto block 1's
    run *i*. ``sample_idx`` is therefore computed per (group, run_idx), in
    file order, matching the reference's list-append order.

Order dependence & scale: line order is the ONLY ordering (no timestamps), so
each file is read whole and its lines numbered by ``posexplode`` (see
``explode_lines``). The 100 TB path shards across *files* (window partitions
by ``file``), never within one log file; a single log file is a few MB at most
(the firmware rotates by session), so one file per window partition is
cluster-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ORCLOG_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("line_no", T.LongType(), False),
        T.StructField("log_id", T.IntegerType(), True),
        T.StructField("actuators_enabled", T.BooleanType(), True),
        T.StructField("interval_s", T.DoubleType(), True),
        T.StructField("run_idx", T.IntegerType(), True),
        T.StructField("sample_idx", T.LongType(), True),
        T.StructField("time_s", T.DoubleType(), True),
        T.StructField("accel_g", T.DoubleType(), True),
        T.StructField("pitch_deg", T.DoubleType(), True),
        T.StructField("roll_deg", T.DoubleType(), True),
    ]
)


def explode_lines(files: DataFrame) -> DataFrame:
    """(file, value=whole file text) → (file, line_no, value), one row per line.

    The one place the ORCLOG line rule lives: split on ``\\r?\\n`` (CRLF-safe;
    Hadoop's line reader would strip ``\\r``, so this path must too) and let
    ``posexplode`` number the lines — exact per-file order by construction,
    pure JVM (no Python row serialization). The batch read and the streaming
    micro-batch both go through here.
    """
    return files.select(
        "file",
        F.posexplode(F.split(F.col("value"), "\r?\n")).alias("line_no", "value"),
    ).select("file", F.col("line_no").cast("long").alias("line_no"), "value")


def read_log_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Read log files as (file, line_no, value) preserving per-file order.

    One row per file, parallel across files. Log files are MB scale
    (firmware session rotation), so whole-file rows are bounded.
    """
    if isinstance(paths, str):
        paths = [paths]
    # NB: must be the wholetext= kwarg (or .format("text").load()):
    # DataFrameReader.text() overwrites a previously .option()-set
    # "wholetext" with its own default, silently reverting to per-line
    # rows — which zeroes every posexplode position.
    files = spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("file"), "value"
    )
    return explode_lines(files)


def parse_orclog(
    spark: SparkSession,
    paths: list[str] | str | None = None,
    lines: DataFrame | None = None,
) -> DataFrame:
    """Parse ORCLOG text into the canonical ``orclog`` table (SURVEY §1.4).

    Accepts file paths or a pre-built (file, line_no, value) DataFrame
    (the latter lets tests and the streaming path share the plan).
    """
    if lines is None:
        if paths is None:
            raise ValueError("need paths or lines")
        lines = read_log_lines(spark, paths)

    v = F.col("value")
    # --- marker indicators -------------------------------------------------
    # csv.reader(row)[0] == text before the first comma; the reference matches
    # markers on that first field.
    field0 = F.split(v, ",").getItem(0)
    is_log = field0.startswith("Log #")
    is_act = field0.contains("Actuators")
    is_interval = field0.startswith("Interval:")
    is_pause = field0.startswith("Log Paused")

    # every per-line extraction happens HERE, before the window stage, so the
    # cumulative-marker windows sort narrow numeric rows instead of dragging
    # the raw line strings through the sort (the single-file window task is
    # the parser's hot path)
    parts = F.split(v, ",")
    is_3field = (F.size(parts) == 3) & ~is_log & ~is_act & ~is_interval & ~is_pause
    df = lines.select(
        "file",
        "line_no",
        is_log.alias("is_log"),
        is_pause.alias("is_pause"),
        # "Log #: 2690" → 2690. try_cast everywhere: ANSI mode is on, and the
        # reference's float()/int() try/except tolerance is exactly try_cast.
        F.when(
            is_log, F.regexp_extract(field0, r"Log #:?\s*(-?\d+)", 1).try_cast("int")
        ).alias("log_id_val"),
        # group string truthiness: any "Actuators..." line sets the group
        F.when(is_act, field0.contains("enabled")).alias("act_val"),
        # float(row0.split(":")[1].strip()); failure → fallback 1.0
        F.when(
            is_interval,
            F.coalesce(
                F.trim(F.substring_index(field0, ":", -1)).try_cast("double"),
                F.lit(1.0),
            ),
        ).alias("interval_val"),
        is_3field.alias("is_3field"),
        # F.get (not getItem): evaluated on every line now, including 1-field
        # marker lines, and ANSI mode makes an out-of-bounds getItem THROW
        F.trim(F.get(parts, 0)).try_cast("double").alias("accel_v"),
        F.trim(F.get(parts, 1)).try_cast("double").alias("pitch_v"),
        F.trim(F.get(parts, 2)).try_cast("double").alias("roll_v"),
    )

    wfile = Window.partitionBy("file").orderBy("line_no")
    wcum = wfile.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    df = df.select(
        "*",
        F.sum(F.col("is_pause").cast("int")).over(wcum).alias("cum_pause"),
        F.last("log_id_val", ignorenulls=True).over(wcum).alias("log_id"),
        F.last("act_val", ignorenulls=True).over(wcum).alias("actuators_enabled"),
        F.coalesce(
            F.last("interval_val", ignorenulls=True).over(wcum), F.lit(1.0)
        ).alias("interval_s"),
    )
    # run counter: pauses seen since the current "Log #" marker. Expressed
    # with the SAME (file, line_no) window as the marker carries — pauses so
    # far minus pauses as of the current marker — so the second Window stage
    # reuses the first one's clustering instead of re-shuffling by
    # (file, log_ord) (a "Log #" line is never itself a pause line, so the
    # subtraction is exact at and after the marker; before the first marker
    # the carry is 0 and run_idx counts pauses since file start, as before).
    df = df.withColumn(
        "run_idx",
        F.col("cum_pause")
        - F.coalesce(
            F.last(
                F.when(F.col("is_log"), F.col("cum_pause")), ignorenulls=True
            ).over(wcum),
            F.lit(0),
        ),
    )

    # --- data rows ----------------------------------------------------------
    is_3field = F.col("is_3field")
    accel = F.col("accel_v")
    pitch = F.col("pitch_v")
    roll = F.col("roll_v")

    data = (
        df.where(
            is_3field
            & F.col("log_id").isNotNull()          # `if current_log`
            & F.col("actuators_enabled").isNotNull()  # `and actuator_status`
        )
        .select(
            "file",
            "line_no",
            "log_id",
            "actuators_enabled",
            "interval_s",
            "run_idx",
            accel.alias("accel_g"),
            pitch.alias("pitch_deg"),
            roll.alias("roll_deg"),
        )
        # skip rows where any field fails float() (main.py:55-56)
        .where(
            F.col("accel_g").isNotNull()
            & F.col("pitch_deg").isNotNull()
            & F.col("roll_deg").isNotNull()
        )
    )

    # sample ordinal per (group, run): reference appends same-group blocks'
    # runs together, in file order (main.py:50-53)
    wrun = Window.partitionBy("file", "actuators_enabled", "run_idx").orderBy("line_no")
    data = data.select(
        "file",
        "line_no",
        "log_id",
        "actuators_enabled",
        "interval_s",
        F.col("run_idx").cast("int").alias("run_idx"),
        (F.row_number().over(wrun) - 1).cast("long").alias("sample_idx"),
        "accel_g",
        "pitch_deg",
        "roll_deg",
    ).withColumn("time_s", F.col("sample_idx") * F.col("interval_s"))

    return data.select([f.name for f in ORCLOG_SCHEMA.fields])
