"""Differential decode test: the compiled SQL decode against an independent
bit-level reference decoder written from the DBC spec.

The reference reads every field one bit at a time in DBC numbering (bit
``b`` of byte ``i`` is ``8*i + b``): Intel fields run upward from their
LSB start bit, Motorola fields run from their MSB start bit toward lower
bit numbers, wrapping to the next byte's bit 7.  It shares no code with
``dbc/compiler.py`` or ``functions/bitfield.py``.  Hypothesis draws random
layouts (start bit, length 1-64, both byte orders, sign, scale, ``flt32_``,
multiplexing) and random payloads; every example decodes as one DataFrame
through both ``decode_wide`` and ``phys_expr``.
"""

from __future__ import annotations

import math
import struct

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.dbc.compiler import DecodeCompiler
from dbc_informed_socketcan_to_parquet_spark.dbc.spec import (
    BOOL, FLOAT32, INT32, INT64, DbcSpec, MessageSpec, SignalSpec,
)
from dbc_informed_socketcan_to_parquet_spark.functions.bitfield import sql_double

# -- reference decoder -------------------------------------------------------


def ref_bits(data: bytes, start: int, length: int, order: str) -> int:
    """Unsigned raw field, read bit by bit; short payloads zero-pad."""
    data = data.ljust(8, b"\0")

    def bit(n: int) -> int:
        return (data[n // 8] >> (n % 8)) & 1

    if order == "little":
        return sum(bit(start + i) << i for i in range(length))
    raw, pos = 0, start
    for _ in range(length):
        raw = (raw << 1) | bit(pos)
        pos = pos - 1 if pos % 8 else pos + 15
    return raw


def ref_value(msg: MessageSpec, sig: SignalSpec, can_id: int, data: bytes):
    """Physical value of ``sig`` in one frame, typed like its column."""
    if can_id != msg.can_id:
        return None
    sw = msg.mux_switch
    if sig.mux_switch_value is not None and (
        ref_bits(data, sw.start_bit, sw.bit_length, sw.byte_order) != sig.mux_switch_value
    ):
        return None
    raw = ref_bits(data, sig.start_bit, sig.bit_length, sig.byte_order)
    if sig.is_float32:
        return struct.unpack("<f", struct.pack("<I", raw))[0]
    if sig.is_signed and raw >> (sig.bit_length - 1):
        raw -= 1 << sig.bit_length
    tag = sig.type_tag
    if tag == BOOL:
        return raw != 0
    phys = raw if sig.factor == 1.0 and sig.offset == 0.0 else float(raw) * sig.factor + sig.offset
    if tag in (INT32, INT64):
        return int(phys)
    if tag == FLOAT32:
        return struct.unpack("<f", struct.pack("<f", phys))[0]
    return float(phys)


def same(got, want) -> bool:
    if isinstance(want, float) and math.isnan(want):
        return isinstance(got, float) and math.isnan(got)
    return type(got) is type(want) and got == want


# -- random layouts ------------------------------------------------------------

_FACTORS = (1.0, 0.5, 0.05, 1e-05, 0.1, 2.0, 1.0 / 3.0)
_OFFSETS = (0.0, -40.0, 100.0, -0.5, -273.15, 1e-05)


def motorola_fits(start: int, length: int) -> bool:
    """Whether a Motorola field's bit walk stays inside 8 bytes."""
    pos = start
    for _ in range(length - 1):
        pos = pos - 1 if pos % 8 else pos + 15
    return pos < 64


@st.composite
def signal(draw, name: str, mux_value: int | None = None) -> SignalSpec:
    order = draw(st.sampled_from(("little", "big")))
    if draw(st.integers(0, 7)) == 0:
        name, length, signed, factor, offset = "flt32_" + name, 32, False, 1.0, 0.0
    else:
        length = draw(st.integers(1, 64))
        signed = draw(st.booleans())
        factor = draw(st.sampled_from(_FACTORS))
        offset = draw(st.sampled_from(_OFFSETS))
    if order == "little":
        start = draw(st.integers(0, 64 - length))
    else:
        start = draw(st.sampled_from([s for s in range(64) if motorola_fits(s, length)]))
    return SignalSpec(name, start, length, order, signed, factor, offset, mux_value)


@st.composite
def dbc(draw) -> DbcSpec:
    messages = []
    for m in range(3):
        n = draw(st.integers(1, 6))
        sigs = tuple(draw(signal(f"M{m}S{k}")) for k in range(n))
        messages.append(MessageSpec(0x100 + m, f"M{m}", 8, sigs))
    switch = SignalSpec("MuxSw", draw(st.integers(0, 6)), 2, "little")
    muxed = tuple(draw(signal(f"X{k}", mux_value=k % 4)) for k in range(draw(st.integers(1, 5))))
    messages.append(MessageSpec(0x200, "MUX", 8, (switch, *muxed), mux_switch=switch))
    return DbcSpec(messages=tuple(messages))


payloads = st.lists(st.binary(min_size=0, max_size=8), min_size=12, max_size=24)


@given(spec=dbc(), datas=payloads)
@settings(max_examples=6, deadline=None)
def test_compiled_decode_matches_bit_level_reference(spark, spec, datas):
    # every payload under every message id, so each signal sees each payload
    rows = [(float(i), m.can_id, d) for i, d in enumerate(datas) for m in spec.messages]
    frames = spark.createDataFrame(rows, "ts double, can_id long, data binary")
    comp = DecodeCompiler(spec)
    pairs = spec.all_signals()
    wide = comp.decode_wide(frames, time_col="t", keep_cols=("can_id",))
    assert [(f.name, f.dataType) for f in wide.drop("can_id").schema] == [
        (f.name, f.dataType) for f in spec.output_schema("t")]
    by_expr = frames.select(
        "can_id", (F.col("ts") * 1000.0).alias("t"),
        *[comp.phys_expr(s, m).alias(s.column_name) for m, s in pairs])
    for df in (wide, by_expr):
        got = {(r.t, r.can_id): r for r in df.collect()}
        assert len(got) == len(rows)
        for ts, can_id, data in rows:
            row = got[(ts * 1000.0, can_id)]
            for m, s in pairs:
                want = ref_value(m, s, can_id, data)
                assert same(row[s.column_name], want), (s, can_id, data.hex(), row[s.column_name], want)


def test_double_literals_round_trip(spark):
    """Generated literals stay DOUBLE (an unsuffixed ``0.05`` would parse
    as DECIMAL) and parse back to the exact same value."""
    xs = [0.05, 1e-05, -273.15, 0.1, 1.0 / 3.0, 5e-324, 1.7976931348623157e308, -0.5, 2.0 ** -126]
    df = spark.range(1).select(*[F.expr(sql_double(x)).alias(f"c{i}") for i, x in enumerate(xs)])
    assert {t for _, t in df.dtypes} == {"double"}
    assert list(df.first()) == xs
    specials = spark.range(1).select(*[F.expr(sql_double(x)) for x in (math.inf, -math.inf, math.nan)]).first()
    assert specials[0] == math.inf and specials[1] == -math.inf and math.isnan(specials[2])
