"""Scalar conversion expression library — C1–C14 of SURVEY.md §2.4.

The reference applies these per row in Python (converter.py:560–671); here
each is a *columnar* Spark expression built once per column, so the whole
batch converts inside whole-stage codegen — the single biggest perf win over
the reference design (SURVEY.md §4 'vectorization' row).

Input convention: CDC payloads arrive as **string-typed columns** (the event
log serializes every value to text, NULL as SQL null — see
sources/event_log.py). Each builder takes that raw string column and returns
the typed, semantics-correct column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schema.table_structure import TableField
from ..schema.type_mapping import spark_type_for

EPOCH_DATE = "1970-01-01"
EPOCH_TS = "1970-01-01 00:00:00"

_INT_BITS = {"tinyint": 8, "smallint": 16, "mediumint": 24, "int": 32,
             "integer": 32, "bigint": 64}


def unsigned_fixup(col: Column, base_type: str) -> Column:
    """C1 — binlog delivers unsigned values as signed two's-complement;
    negative ⇒ add 2^bits (reference converter.py:632–641)."""
    bits = _INT_BITS[base_type]
    if bits == 64:
        as_dec = col.try_cast("decimal(20,0)")
        two64 = F.lit(str(2 ** 64)).cast("decimal(21,0)")
        return (F.when(as_dec < 0, (as_dec + two64).cast("decimal(20,0)"))
                .otherwise(as_dec))
    as_long = col.try_cast("long")
    return F.when(as_long < 0, as_long + F.lit(2 ** bits)).otherwise(as_long)


def enum_map(col: Column, labels: list[str]) -> Column:
    """C3 — enum arrives as 1-based integer index (binlog) or text (snapshot);
    output is the lowercased label. Index 0 (MySQL's invalid-value marker)
    is kept as the string '0' (reference enum/converter.py:33–37)."""
    lowered = [lab.lower() for lab in labels]
    arr = F.array(*[F.lit(x) for x in lowered])
    is_int = col.rlike("^[0-9]+$")
    idx = col.try_cast("int")
    # try_element_at: out-of-range index → NULL (reference logs, not raises)
    from_idx = (F.when(idx == 0, F.lit("0"))
                .otherwise(F.try_element_at(arr, idx)))
    return F.when(col.isNull(), F.lit(None).cast("string")) \
            .when(is_int, from_idx) \
            .otherwise(F.lower(col))


def set_decode(col: Column, labels: list[str]) -> Column:
    """C4 — SET arrives as an integer bitmask (binlog) or csv text
    (snapshot); output is the csv of member labels in declared order
    (reference converter.py:650–663). Bit i set ⇒ labels[i] present."""
    is_int = col.rlike("^[0-9]+$")
    mask = col.try_cast("long")
    # one WHEN per member (≤64 by MySQL's SET limit); concat_ws drops the
    # NULLs of unset bits — stays fully inside whole-stage codegen
    members = [F.when(mask.bitwiseAND(F.lit(1 << i)) != 0, F.lit(lab))
               for i, lab in enumerate(labels)]
    from_mask = F.concat_ws(",", *members)
    return F.when(col.isNull(), F.lit(None).cast("string")) \
            .when(is_int, from_mask) \
            .otherwise(col)


def year_clamp(col: Column) -> Column:
    """C9 — YEAR: clamp to [1901, 2155]; 0 stays 0 is NOT reference
    behavior — the reference clamps everything (converter.py:613–623)."""
    y = col.try_cast("int")
    clamped = F.least(F.greatest(y, F.lit(1901)), F.lit(2155))
    # greatest/least skip NULLs in Spark — guard so NULL stays NULL
    return F.when(y.isNull(), F.lit(None)).otherwise(clamped).cast("smallint")


def zero_date_sanitize(col: Column, target: str) -> Column:
    """C12 — MySQL zero/invalid dates ('0000-00-00') → epoch before insert
    (reference clickhouse_api.py:309–331). Casting '0000-00-00' yields NULL
    in Spark, so: parse, and replace parse-failures of non-null input with
    the epoch."""
    parsed = col.try_cast(target)
    epoch = F.lit(EPOCH_DATE if target == "date" else EPOCH_TS).cast(target)
    return F.when(col.isNotNull() & parsed.isNull(), epoch).otherwise(parsed)


def timestamp_attach_tz(col: Column, mysql_timezone: str) -> Column:
    """C13 — MySQL `timestamp` text is wall-clock in the configured
    ``mysql_timezone`` (reference converter.py:350–374); convert to an
    instant: interpret the naive text in that zone."""
    return F.to_utc_timestamp(col.try_cast("timestamp_ntz").cast("timestamp"),
                              mysql_timezone)


# C2 — MySQL charset name → Python codec name (the reference keeps the
# equivalent 40-entry map, converter.py:19–62; only charsets whose names
# differ need entries — utf8 variants fold to utf-8). NB the latin1 nuance:
# MySQL 'latin1' is actually cp1252 (reference converter.py:24).
CHARSET_CODECS = {
    "utf8": "utf-8", "utf8mb3": "utf-8", "utf8mb4": "utf-8",
    "latin1": "cp1252", "cp1252": "cp1252",
    "latin2": "iso8859-2", "latin5": "iso8859-9", "latin7": "iso8859-13",
    "greek": "iso8859-7", "hebrew": "iso8859-8",
    "koi8r": "koi8-r", "koi8u": "koi8-u",
    "cp1250": "cp1250", "cp1251": "cp1251",
    "cp1256": "cp1256", "cp1257": "cp1257",
    "cp850": "cp850", "cp852": "cp852", "cp866": "cp866",
    "ascii": "ascii", "binary": None,
    "gbk": "gbk", "gb2312": "gb2312", "big5": "big5",
    "ujis": "euc_jp", "euckr": "euc_kr", "sjis": "shift_jis",
    "cp932": "cp932", "tis620": "cp874",
}

# charsets Spark's built-in decode() handles (stays in codegen)
_SPARK_NATIVE = {"utf-8": "UTF-8", "ascii": "US-ASCII"}


def charset_decode(col: Column, mysql_charset: str | None) -> Column:
    """C2 — decode raw text bytes with the table/column charset (reference
    converter.py:643–648). UTF-8/ASCII stay on the built-in ``decode``
    (codegen); legacy codecs (latin1-as-cp1252 and friends, which Spark's
    decode rejects) go through an Arrow-batched pandas UDF — the conversion
    cold path for legacy-charset snapshots."""
    codec = CHARSET_CODECS.get((mysql_charset or "utf8mb4").lower(), "utf-8")
    if codec is None:  # 'binary' pseudo-charset: keep bytes
        return col.cast("binary").cast("string")
    if codec in _SPARK_NATIVE:
        return F.decode(col.cast("binary"), _SPARK_NATIVE[codec])

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def dec(s):
        return s.map(lambda b: None if b is None
                     else bytes(b).decode(codec, errors="replace"))

    return pandas_udf(dec, "string")(col.cast("binary"))


def bit_decode(col: Column) -> Column:
    """bit(n>1) — arrives as integer text or raw bytes; normalize to long."""
    return F.when(col.rlike("^[0-9]+$"), col.cast("long")) \
            .otherwise(F.conv(F.hex(col.cast("binary")), 16, 10).cast("long"))


def binary_pad(col: Column, length: int) -> Column:
    """binary(N) is right-padded with 0x00 to N bytes (FIXTURES F03)."""
    return F.rpad(col.cast("binary"), length, bytes([0]))


def default_for(field: TableField) -> Column:
    """C11 — per-type default used when NULL arrives for a NOT NULL column
    (reference converter.py:664–668, 1039–1096)."""
    base = field.base_type
    if base in ("tinyint", "bit") and field.params.strip() == "1":
        return F.lit(False)
    if base in _INT_BITS or base == "bit":
        return F.lit(0).cast(spark_type_for(field).simpleString())
    if base in ("float", "double", "real"):
        return F.lit(0.0).cast(spark_type_for(field).simpleString())
    if base in ("decimal", "numeric", "fixed", "dec"):
        return F.lit(0).cast(spark_type_for(field).simpleString())
    if base == "date":
        return F.lit(EPOCH_DATE).cast("date")
    if base == "datetime":
        return F.lit(EPOCH_TS).cast("timestamp_ntz")
    if base == "timestamp":
        return F.lit(EPOCH_TS).cast("timestamp")
    if base == "year":
        return F.lit(1901).cast("smallint")
    if base in ("bool", "boolean"):
        return F.lit(False)
    if base == "enum":
        vals = field.enum_values()
        return F.lit(vals[0].lower() if vals else "")
    if base in ("binary", "varbinary", "tinyblob", "blob", "mediumblob",
                "longblob"):
        return F.lit(b"")
    if base in ("point",):
        return F.struct(F.lit(0.0).alias("x"), F.lit(0.0).alias("y"))
    if base in ("polygon", "multipolygon"):
        return F.lit(None)  # arrays: reference default is empty; NULL-safe
    return F.lit("")  # all string-ish types


def conversion_expr(field: TableField, col: Column,
                    mysql_timezone: str = "UTC",
                    types_mapping: dict[str, str] | None = None) -> Column:
    """F4 — build the full conversion expression for one column: type cast +
    special semantics (C1–C14) + NOT-NULL default (C11)."""
    base = field.base_type
    if types_mapping:
        override = (types_mapping.get(field.type_spec)
                    or types_mapping.get(base))
        if override:
            base = override.lower()

    if base in ("tinyint", "bit") and field.params.strip() == "1":
        out = F.when(col.rlike("^[0-9]+$"), col.cast("int") != 0) \
               .otherwise(col.cast("boolean"))
    elif base in _INT_BITS:
        out = unsigned_fixup(col, base) if field.unsigned \
            else col.cast(spark_type_for(field).simpleString())
    elif base in ("decimal", "numeric", "fixed", "dec"):
        out = col.cast(spark_type_for(field).simpleString())
    elif base == "enum":
        out = enum_map(col, field.enum_values())
    elif base == "set":
        out = set_decode(col, field.enum_values())
    elif base == "year":
        out = year_clamp(col)
    elif base == "date":
        out = zero_date_sanitize(col, "date")
    elif base == "datetime":
        out = zero_date_sanitize(col, "timestamp_ntz")
    elif base == "timestamp":
        out = timestamp_attach_tz(col, mysql_timezone)
    elif base == "time":
        out = col.cast("string")  # C14
    elif base == "json":
        out = col.cast("string")  # C5 — already normalized text
    elif base == "bit":
        out = bit_decode(col)
    elif base == "binary" and field.params.strip().isdigit():
        out = binary_pad(col, int(field.params))
    elif base in ("varbinary", "tinyblob", "blob", "mediumblob", "longblob"):
        out = col.cast("binary")
    elif base in ("point", "polygon", "multipolygon"):
        from .wkb import wkb_parse_expr
        out = wkb_parse_expr(col, base)
    elif base in ("float", "double", "real", "bool", "boolean", "uuid"):
        out = col.cast(spark_type_for(field).simpleString())
    else:
        out = col.cast("string")  # char/varchar/text/... (C2 charset decode
        # happens at event-log serialization time; Spark strings are UTF-8)

    if not field.nullable:
        out = F.coalesce(out, default_for(field))
    return out.alias(field.name)


def convert_payload(df, structure, payload_col: str = "payload",
                    mysql_timezone: str = "UTC",
                    types_mapping: dict[str, str] | None = None,
                    only_primary: bool = False,
                    remove_op_col: str | None = None,
                    remove_op_value: int = 2):
    """Project a positional string-array payload column into named, typed
    columns per the table structure (reference convert_records,
    converter.py:575–671; F4/F5). The expressions are
    ``payload_exprs``'s; every other column of ``df`` is kept."""
    keep = [c for c in df.columns if c != payload_col]
    return df.select(*keep, *payload_exprs(
        structure, payload_col, mysql_timezone, types_mapping,
        only_primary, remove_op_col, remove_op_value))


def payload_exprs(structure, payload_col: str = "payload",
                  mysql_timezone: str = "UTC",
                  types_mapping: dict[str, str] | None = None,
                  only_primary: bool = False,
                  remove_op_col: str | None = None,
                  remove_op_value: int = 2) -> list[Column]:
    """One typed, named Column per structure field, read from the
    positional string-array ``payload_col``. They depend on the structure
    and the options only, never on a DataFrame, so a caller applying many
    batches to one table can build them once and reuse them.

    ``only_primary`` converts just the PK columns — the delete path
    (reference converter.py:581–583); Catalyst then prunes everything else.

    ``remove_op_col``: REMOVE payloads carry **PK values only, packed
    densely at positions 1..k in ``primary_keys`` order** (the writer
    contract, sources/event_log.py ``EventLogWriter.remove``; mirrors the
    reference converting delete records by name, converter.py:581–583).
    When set, rows whose ``remove_op_col`` equals ``remove_op_value``
    read each PK column at its PK-relative position instead of its
    structural ordinal — without this, any table whose PK columns are not
    the leading columns would resolve the tombstone key from the wrong
    slot (NULL → NOT-NULL default) and delete the wrong row. Non-PK
    columns of REMOVE rows are read as NULL so a dense PK value is never
    misread as a data column. Built as one per-column CASE — single scan,
    stays in whole-stage codegen.
    """
    fields = structure.fields
    if only_primary:
        fields = [f for f in fields if f.name in structure.primary_keys]
    pk_order = list(structure.primary_keys)
    exprs = []
    for f in fields:
        pos = structure.field_names.index(f.name) + 1  # 1-based
        # try_element_at: a payload shorter than the structure (an event
        # recorded before an ADD COLUMN) yields NULL → NOT-NULL default
        raw = F.try_element_at(F.col(payload_col), F.lit(pos))
        if remove_op_col is not None:
            is_remove = F.col(remove_op_col) == F.lit(remove_op_value)
            if f.name in pk_order:
                pk_pos = pk_order.index(f.name) + 1
                raw = F.when(
                    is_remove,
                    F.try_element_at(F.col(payload_col), F.lit(pk_pos)),
                ).otherwise(raw)
            else:
                raw = F.when(is_remove,
                             F.lit(None).cast("string")).otherwise(raw)
        exprs.append(conversion_expr(f, raw, mysql_timezone, types_mapping))
    return exprs
