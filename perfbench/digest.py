"""Output digests: row count plus an order-insensitive value hash.

``observed`` is the Spark-side twin of ``tools/check_oracle.value_hash``:
columns sorted by name, floats rendered to 6 decimal places, NULL as
``NULL``, one hash per row, and the hashes summed so row order does
not matter.  It rides the action that already runs
(``DataFrame.observe``), so checking an output costs no extra Spark
job.  Small outputs that are collected anyway use ``value_hash``
itself.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
_FLOATS = (T.FloatType, T.DoubleType)


def _render(field: T.StructField) -> str:
    c, dt = "`" + field.name.replace("`", "``") + "`", field.dataType
    if isinstance(dt, _FLOATS):
        out = f"format_string('%.6f', {c})"
    elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, _FLOATS):
        out = f"array_join(transform({c}, x -> format_string('%.6f', x)), ',', 'NULL')"
    else:
        out = f"cast({c} as string)"
    return f"coalesce({out}, 'NULL')"


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a (rows, hash) observation attached; read it with
    ``digest_of(obs)`` after the action.  The expression is one SQL
    string, so attaching it costs one py4j round trip, not one per
    column."""
    obs = Observation()  # a fresh, uniquely named observation per action
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row_hash = f"xxhash64(concat_ws('|', {', '.join(_render(f) for f in fields)}))"
    return df.observe(
        obs,
        F.expr("count(1)").alias("rows"),
        F.expr(f"sum(cast({row_hash} as decimal(38,0)))").alias("hash"),
    ), obs


def digest_of(obs: Observation) -> list:
    got = obs.get
    return [int(got["rows"]), str(got["hash"] if got["hash"] is not None else 0)]


def load() -> dict:
    if not os.path.exists(DIGESTS_PATH):
        return {}
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def recorded(workload: str, scale: str, seed: int) -> dict | None:
    return load().get(workload, {}).get(scale, {}).get(str(seed))


def record(workload: str, scale: str, seed: int, digests: dict) -> None:
    data = load()
    data.setdefault(workload, {}).setdefault(scale, {})[str(seed)] = digests
    with open(DIGESTS_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
