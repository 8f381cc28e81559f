"""Serialization formats: csv / json / avro encode+decode helpers.

Reference parity (SURVEY.md §2.6 F5-F7):
- F5 csv  — format/.../csv/Csv2Csv.java:35-38,45 (options csv.allow-comments,
  csv.field-delimiter='|', csv.ignore-parse-errors).
- F6 json — format/.../json/Json2Json.java:36-38,45 (json.fail-on-missing-field,
  json.ignore-parse-errors).
- F7 avro — format/.../avro/Avro2Avro.java:25-45 (DDL-derived schema; sample
  writer schema format/.../avro/Constant.java:10-17).

These map the reference's Flink-format option names onto Spark's from_csv /
from_json / from_avro option dialects so pipeline specs can carry the same
keys (plans/pipeline.py). Decode/encode are JVM expressions — format work at
100 TB is scan-shaped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F, types as T

try:  # spark-avro is a separate artifact; gate it (not in this container)
    from pyspark.sql.avro.functions import from_avro, to_avro  # noqa: F401
    HAS_AVRO = True
except ImportError:  # pragma: no cover
    HAS_AVRO = False


#: writer/reader NULL sentinel for the csv codec — with the default
#: nullValue of "" an empty-string field decodes back as NULL, silently
#: conflating two distinct values; the \\N convention (mysqldump/Hive)
#: keeps the roundtrip an identity.
CSV_NULL = "\\N"


def decode_csv(col: Column | str, schema: T.StructType, *,
               field_delimiter: str = ",", allow_comments: bool = False,
               ignore_parse_errors: bool = True) -> Column:
    """F5: csv line → struct. Option mapping: csv.field-delimiter → sep,
    csv.allow-comments → comment='#', csv.ignore-parse-errors → PERMISSIVE
    (malformed → null fields) vs FAILFAST."""
    c = F.col(col) if isinstance(col, str) else col
    options = {
        "sep": field_delimiter,
        "mode": "PERMISSIVE" if ignore_parse_errors else "FAILFAST",
        # distinguish NULL from empty string: the default nullValue is ""
        # so every empty field would decode as NULL — encode_csv writes
        # this sentinel for NULLs and "" stays "" (roundtrip identity)
        "nullValue": CSV_NULL,
    }
    if allow_comments:
        options["comment"] = "#"
    return F.from_csv(c, F.lit(schema.simpleString()), options)


def encode_csv(cols: list[str], *, field_delimiter: str = ",") -> Column:
    """F5: struct → csv line (NULLs written as the CSV_NULL sentinel so
    decode can tell them from empty strings — see decode_csv)."""
    return F.to_csv(F.struct(*[F.col(c) for c in cols]),
                    {"sep": field_delimiter, "nullValue": CSV_NULL})


def decode_json(col: Column | str, schema: T.StructType, *,
                fail_on_missing_field: bool = False,
                ignore_parse_errors: bool = True) -> Column:
    """F6: json string → struct. Missing fields → null (Flink's
    fail-on-missing-field=false default); parse errors → null row when
    ignored, FAILFAST otherwise."""
    c = F.col(col) if isinstance(col, str) else col
    options = {"mode": "PERMISSIVE" if ignore_parse_errors else "FAILFAST"}
    return F.from_json(c, schema, options)


def encode_json(cols: list[str]) -> Column:
    """F6: struct → json string."""
    return F.to_json(F.struct(*[F.col(c) for c in cols]))


def decode_avro(col: Column | str, avro_schema_json: str) -> Column:
    """F7: avro bytes → struct via the JVM spark-avro expression. When the
    spark-avro artifact is absent (this container), use the pure-Python
    fallback in `functions.avro_codec` (decode_avro_python /
    avro_roundtrip) instead — same wire format, Arrow-batched slow path."""
    if not HAS_AVRO:  # pragma: no cover
        raise NotImplementedError(
            "spark-avro not on the classpath; add org.apache.spark:spark-avro "
            "to spark.jars.packages, or use functions.avro_codec (pure-Python "
            "binary codec, slow path)"
        )
    c = F.col(col) if isinstance(col, str) else col
    return from_avro(c, avro_schema_json)


def encode_avro(col: Column | str) -> Column:
    """F7: struct → avro bytes (same classpath caveat and same
    functions.avro_codec fallback)."""
    if not HAS_AVRO:  # pragma: no cover
        raise NotImplementedError("spark-avro not on the classpath; "
                                  "use functions.avro_codec")
    c = F.col(col) if isinstance(col, str) else col
    return to_avro(c)


def csv_roundtrip(df: DataFrame, cols: list[str], schema: T.StructType, *,
                  field_delimiter: str = "|") -> DataFrame:
    """Encode rows to csv lines and decode back (the Csv2Csv pipeline shape:
    kafka-csv source → SELECT → kafka-csv sink). Identity on the projected
    columns — used as the oracle-checked format test."""
    encoded = df.select(encode_csv(cols, field_delimiter=field_delimiter).alias("line"))
    decoded = encoded.select(decode_csv("line", schema, field_delimiter=field_delimiter).alias("r"))
    return decoded.select(*[F.col(f"r.{c}").alias(c) for c in cols])


def json_roundtrip(df: DataFrame, cols: list[str], schema: T.StructType) -> DataFrame:
    """Encode rows to json and decode back (Json2Json pipeline shape)."""
    encoded = df.select(encode_json(cols).alias("line"))
    decoded = encoded.select(decode_json("line", schema).alias("r"))
    return decoded.select(*[F.col(f"r.{c}").alias(c) for c in cols])
