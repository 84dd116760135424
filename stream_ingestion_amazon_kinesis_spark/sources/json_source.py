"""JSON record decode with explicit schema + corrupt-record quarantine.

Reference semantics: `json.loads(record["Data"].decode("utf-8"))`
(consumer.py:118) with a blanket per-record try/except that logs and
drops malformed records (consumer.py:177-185). Here the decode is a
single declarative `from_json` in PERMISSIVE mode; rows that fail to
parse land in `_corrupt_record` and are split off to a quarantine
DataFrame instead of being silently dropped — same forward progress,
stronger observability, fully vectorized (no per-row Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The lab's user-session payload (reference README.md:277-298; fields
# accessed at consumer.py:118-170). `quantity` is intentionally
# string-typed on the wire — the consumer defensively int()-casts it
# (consumer.py:136-139); we mirror that with an explicit cast at use.
SESSION_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.StringType()),
        T.StructField("customer_number", T.LongType()),
        T.StructField("city", T.StringType()),
        T.StructField("country", T.StringType()),
        T.StructField("credit_limit", T.LongType()),
        T.StructField(
            "browse_history",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("product_code", T.StringType()),
                        T.StructField("quantity", T.StringType()),
                        T.StructField("in_shopping_cart", T.BooleanType()),
                    ]
                )
            ),
        ),
    ]
)

CORRUPT_COL = "_corrupt_record"

# The decode shape of every session source: SESSION_SCHEMA plus the
# column a PERMISSIVE parse fills with the raw text of a malformed record.
SESSION_RECORD_SCHEMA = T.StructType(
    list(SESSION_SCHEMA.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
)
PERMISSIVE = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}


def parse_json_records(
    raw: DataFrame,
    value_col: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """bytes/str JSON column -> (parsed, quarantine).

    `raw` carries one JSON document per row in `value_col` (BinaryType or
    StringType — the Kinesis/Kafka wire shape). Returns the parsed rows
    with SESSION_SCHEMA, and the quarantine rows (unparseable JSON)
    carrying the original payload — the engine's version of the
    reference's drop-with-log path (consumer.py:178-185).
    """
    value = F.col(value_col)
    if dict(raw.dtypes)[value_col] == "binary":
        value = value.cast("string")

    parsed_raw = raw.withColumn(
        "_parsed", F.from_json(value, SESSION_RECORD_SCHEMA, PERMISSIVE)
    )
    # from_json yields NULL struct for totally unparseable input and sets
    # _corrupt_record when it salvages nothing; treat both as quarantine.
    ok = parsed_raw.filter(
        F.col("_parsed").isNotNull() & F.col(f"_parsed.{CORRUPT_COL}").isNull()
    ).select("_parsed.*").drop(CORRUPT_COL)
    quarantine = parsed_raw.filter(
        F.col("_parsed").isNull() | F.col(f"_parsed.{CORRUPT_COL}").isNotNull()
    ).select(value.alias("raw_record"))
    return ok, quarantine


def to_json_records(df: DataFrame) -> DataFrame:
    """Serialize all columns back to one JSON string per row — the
    engine's S4 (consumer.py:167-169). Spark's JSON writer emits
    timestamps as ISO-8601 natively, replacing the reference's custom
    `serialize_datetime` (consumer.py:32-41)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))
