"""Packed per-series stream layout — the OrthoMultiTs/IndexedRaggedTs
storage analog (img2ts.py:436-640), Gorilla-compressed.

A tier table ``(cell_id, doc_id, tick, v...)`` is reshaped into one row
per series: timestamps DoD-encoded, values XOR-encoded (functions/gorilla).
The reshape is ``sort_array(collect_list(struct(tick, v)))`` — an
associative aggregation, so it is deterministic under any partitioning and
keeps map-side combine; only the final array→binary step leaves the JVM,
through one ``mapInArrow`` kernel that encodes every column of a whole
Arrow batch at once (functions/gorilla.pack_arrow_batches).

The packed table is cell-partitioned; decode is the exact inverse and the
round-trip is bit-exact (tests/test_gorilla.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.functions.gorilla import (
    CODEC_DOD,
    CODEC_XOR,
    decode_float_stream,
    decode_int_stream,
    pack_arrow_batches,
)


def encode_series(
    tier: DataFrame,
    key_cols: list = ("cell_id", "doc_id"),
    tick_col: str = "tick",
    int_cols: list = (),
    float_cols: list = (),
    quantize_cols: dict | None = None,
) -> DataFrame:
    """One packed row per key: ts_bin + <col>_bin binaries + n_points.

    ``quantize_cols``: {col: (scale_factor, add_offset)} — float columns
    packed to ints via the reference's CF scale/offset formula
    (ts2img.py:333-340, see functions/quantize.py) and then DoD-encoded
    like any int column (bounded error scale/2; grid-aligned values are
    exact).  Lossless floats belong in ``float_cols`` (XOR path) instead.

    The packed format has no validity bitmap: a NULL tick or value
    raises ``ValueError`` naming its column rather than being encoded
    as some other number.
    """
    from functools import partial

    from pyspark.sql.types import BinaryType, StructField, StructType

    from repurpose_spark.functions.quantize import quantize

    key_cols = list(key_cols)
    quantize_cols = quantize_cols or {}
    if quantize_cols:
        for c, (sf, off) in quantize_cols.items():
            tier = tier.withColumn(c, quantize(c, sf, off))
        int_cols = list(int_cols) + list(quantize_cols)
    vals = list(int_cols) + list(float_cols)
    # output column -> (codec, source column, element type)
    streams = {"ts_bin": (CODEC_DOD, tick_col, "long")}
    streams.update({f"{c}_bin": (CODEC_DOD, c, "long") for c in int_cols})
    streams.update({f"{c}_bin": (CODEC_XOR, c, "double") for c in float_cols})
    lists = (
        tier.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(tick_col).alias("t"), *vals))
            ).alias("s")
        )
        .select(
            *key_cols,
            F.size("s").alias("n_points"),
            *[
                F.col("s.t" if src == tick_col else f"s.{src}")
                .cast(f"array<{t}>")
                .alias(out)
                for out, (_, src, t) in streams.items()
            ],
        )
    )
    schema = StructType(
        [
            StructField(f.name, BinaryType(), True) if f.name in streams else f
            for f in lists.schema.fields
        ]
    )
    codecs = {out: (codec, src) for out, (codec, src, _) in streams.items()}
    return lists.mapInArrow(partial(pack_arrow_batches, codecs=codecs), schema)


def decode_series(
    packed: DataFrame,
    key_cols: list = ("cell_id", "doc_id"),
    tick_col: str = "tick",
    int_cols: list = (),
    float_cols: list = (),
    tick_is_timestamp: bool = True,
    quantize_cols: dict | None = None,
) -> DataFrame:
    """Inverse of :func:`encode_series` back to long format (quantized
    columns are unpacked back to doubles via the same scale/offset)."""
    key_cols = list(key_cols)
    quantize_cols = quantize_cols or {}
    if quantize_cols:
        int_cols = list(int_cols) + list(quantize_cols)
    df = packed.select(
        *key_cols,
        decode_int_stream("ts_bin").alias("__t"),
        *[decode_int_stream(f"{c}_bin").alias(f"__{c}") for c in int_cols],
        *[decode_float_stream(f"{c}_bin").alias(f"__{c}") for c in float_cols],
    )
    vals = list(int_cols) + list(float_cols)
    zipped = df.select(
        *key_cols,
        F.explode(F.arrays_zip("__t", *[f"__{c}" for c in vals])).alias("z"),
    )
    t = F.col("z.__t")
    from repurpose_spark.functions.quantize import dequantize

    def _val(c):
        raw = F.col(f"z.__{c}")
        if c in quantize_cols:
            sf, off = quantize_cols[c]
            return dequantize(raw, sf, off).alias(c)
        return raw.alias(c)

    return zipped.select(
        *key_cols,
        (F.timestamp_seconds(t) if tick_is_timestamp else t).alias(tick_col),
        *[_val(c) for c in vals],
    )
