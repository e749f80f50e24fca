"""SQL-registered engine functions: expose the scalar operator surface to
``spark.sql(...)`` users (SURVEY §2.C UDF/UDAF/UDTF row).

- orc_t_cdf(t, dof): Student-t CDF (vectorized pandas UDF)
- orc_deadband(x, floor): noise-floor crush (O8)
- orc_corner(fz, ftheta, fphi): 4-corner transform as a struct (O10)
- parse_orclog_line(line): Python UDTF classifying one log line into the
  marker/data structure the sessionizer consumes
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import udtf

from orc_spark.operators.control import A_2AB, B_2AB, INV_2AB, INV_2CD
from orc_spark.operators.stats import _t_cdf


@udtf(returnType="kind string, log_id int, enabled boolean, interval_s double, "
      "accel double, pitch double, roll double")
class ParseOrclogLine:
    """UDTF: classify one ORCLOG line (main.py:22-65 state-machine inputs).
    Emits exactly one row per line with the parsed fields of its kind."""

    def eval(self, line: str):  # noqa: D102
        if line is None:
            return
        head = line.split(",")[0]
        if head.startswith("Log #"):
            try:
                lid = int(head.split(":")[1].strip())
            except (IndexError, ValueError):
                lid = None
            yield ("log", lid, None, None, None, None, None)
        elif "Actuators" in head:
            yield ("group", None, "enabled" in head, None, None, None, None)
        elif head.startswith("Interval:"):
            try:
                iv = float(head.split(":")[1].strip())
            except (IndexError, ValueError):
                iv = 1.0
            yield ("interval", None, None, iv, None, None, None)
        elif head.startswith("Log Paused"):
            yield ("pause", None, None, None, None, None, None)
        else:
            parts = line.split(",")
            if len(parts) == 3:
                try:
                    a, p, r = (float(x) for x in parts)
                    yield ("data", None, None, None, a, p, r)
                    return
                except ValueError:
                    pass
            yield ("other", None, None, None, None, None, None)


def register_all(spark: SparkSession) -> None:
    spark.udf.register("orc_t_cdf", _t_cdf)
    spark.udf.register(
        "orc_deadband",
        lambda x, floor: (
            None if x is None else (x - floor if x > floor else (x + floor if x < -floor else 0.0))
        ),
        T.DoubleType(),
    )
    # corner transform as a plain Python UDF returning the 4-struct (cold
    # path; the hot path is the codegen expression in operators/control.py)
    def _corner(fz: float, ftheta: float, fphi: float):
        def clamp(v: float) -> int:
            return int(min(max(v, 0.0), 65535.0))

        return (
            clamp(B_2AB * fz - INV_2AB * ftheta + INV_2CD * fphi + 32768.0),
            clamp(B_2AB * fz - INV_2AB * ftheta - INV_2CD * fphi + 32768.0),
            clamp(A_2AB * fz + INV_2AB * ftheta + INV_2CD * fphi + 32768.0),
            clamp(A_2AB * fz + INV_2AB * ftheta - INV_2CD * fphi + 32768.0),
        )

    spark.udf.register(
        "orc_corner",
        _corner,
        T.StructType(
            [
                T.StructField("act1", T.IntegerType()),
                T.StructField("act2", T.IntegerType()),
                T.StructField("act3", T.IntegerType()),
                T.StructField("act4", T.IntegerType()),
            ]
        ),
    )
    spark.udtf.register("parse_orclog_line", ParseOrclogLine)
