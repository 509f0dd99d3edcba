"""Bit-field extraction and IEEE-754 reinterpret as Spark SQL expression text.

The reference extracts each signal's bit-field from the 8-byte CAN payload
in C (delegated to dbcppp ``Decode``, /root/reference/src/decoder.cpp:76-129)
and hand-rolls a float32 reinterpret (/root/reference/src/custom_types.cpp:42-110).
Here both are *driver-side generated SQL expressions* over Spark built-ins —
they run JVM-side inside WholeStageCodegen, no Python in the hot path.

Every helper takes and returns SQL expression text, not a ``Column``:
composing text costs no JVM round trip, so a whole DBC compiles to strings
on the driver and reaches Spark in a handful of calls
(``dbc/compiler.py``).  Each returned expression is parenthesized, so it
composes under any operator.

Representation choice: the 8-byte payload is materialised once per frame as
a signed 64-bit long whose *bit pattern* equals the unsigned payload word
(Java long arithmetic wraps, so ``b7 << 56`` with the top bit set is simply
the right bit pattern).  All per-signal extraction is then shifts + masks on
that one word.
"""

from __future__ import annotations

import math


def sql_double(x: float) -> str:
    """A DOUBLE literal that round-trips ``x`` exactly.

    Spark SQL reads an unsuffixed ``0.05`` as DECIMAL(2,2), which would
    switch the scaling to decimal arithmetic; ``repr`` is the shortest
    string that parses back to the same double, and the ``D`` suffix
    keeps it a double.
    """
    x = float(x)
    if math.isfinite(x):
        return f"({x!r}D)"
    return f"CAST('{x}' AS DOUBLE)"


def payload_be_u64(data: str) -> str:
    """Big-endian (Motorola) payload word: byte 0 is the most significant.

    Two 32-bit ``conv`` calls on the zero-padded hex rendering (each fits a
    long without sign trouble), recombined with a wrapping shift — the bit
    pattern of the unsigned word in a signed long.  Payloads shorter than
    8 bytes zero-pad on the right, matching the zeroed can_frame buffer.
    """
    h = f"rpad(hex({data}), 16, '0')"
    hi = f"CAST(conv(substring({h}, 1, 8), 16, 10) AS BIGINT)"
    lo = f"CAST(conv(substring({h}, 9, 8), 16, 10) AS BIGINT)"
    return f"(shiftleft({hi}, 32) | {lo})"


def payload_le_u64(be: str) -> str:
    """Little-endian (Intel) payload word: byte 0 is the least significant.

    Byte-swap of the big-endian word ``be`` — integer shifts and masks only.
    """
    parts = [f"shiftleft(shiftrightunsigned({be}, {8 * (7 - i)}) & 255, {8 * i})" for i in range(8)]
    return f"({' | '.join(parts)})"


def extract_bits(word: str, lsb: int, length: int) -> str:
    """Unsigned bit-field ``word[lsb + length - 1 : lsb]`` as a long.

    Uses ``shiftrightunsigned`` so the sign bit of the 64-bit carrier never
    leaks into the field; for ``length == 64`` the mask is the full word.
    """
    shifted = f"shiftrightunsigned({word}, {lsb})" if lsb else word
    if length >= 64:
        return f"({shifted})"
    return f"({shifted} & {(1 << length) - 1}L)"


def sign_extend(raw: str, length: int) -> str:
    """Two's-complement sign extension of an unsigned ``length``-bit field:
    move its sign bit to bit 63, then shift back arithmetically."""
    if length >= 64:
        return raw
    return f"shiftright(shiftleft({raw}, {64 - length}), {64 - length})"


def to_double(raw: str, length: int, signed: bool) -> str:
    """DOUBLE value of a raw field.  An unsigned 64-bit field with its top
    bit set sits in a negative long; it widens exactly (and rounds once)
    through DECIMAL."""
    if length >= 64 and not signed:
        return f"CAST(pmod(CAST({raw} AS DECIMAL(20,0)), {1 << 64}BD) AS DOUBLE)"
    return f"CAST({raw} AS DOUBLE)"


def motorola_lsb(start_bit: int, length: int) -> int:
    """Map a DBC Motorola (big-endian) start bit to the LSB position within
    the big-endian payload word.

    DBC numbers bit ``b`` of byte ``i`` as ``8*i + b`` (b = 0 is the byte's
    LSB); a Motorola signal starts at its MSB and runs toward lower bit
    numbers, wrapping to the next byte's bit 7.  In the big-endian 64-bit
    word (byte 0 = bits 63..56) that layout is contiguous, with
    ``msb_pos = (7 - start_byte) * 8 + bit_in_byte``.
    """
    msb_pos = (7 - start_bit // 8) * 8 + (start_bit % 8)
    return msb_pos - (length - 1)


def ieee754_float32(u32: str) -> str:
    """Reinterpret a 32-bit pattern (carried in a long) as IEEE-754 float32.

    Arithmetic decode — sign/exponent/mantissa split, with subnormal,
    ±Inf and NaN branches — mirroring the semantics of the reference's
    byte-level reinterpret (/root/reference/src/custom_types.cpp:87-110)
    without any UDF.  Returns DOUBLE (exact superset of float32 values);
    callers cast to FLOAT for the column type.
    """
    sign = f"CASE WHEN (shiftrightunsigned({u32}, 31) & 1) = 1 THEN (-1.0D) ELSE 1.0D END"
    exp = f"(shiftrightunsigned({u32}, 23) & 255)"
    man = f"({u32} & 8388607)"
    frac = f"(CAST({man} AS DOUBLE) / {sql_double(1 << 23)})"
    normal = f"({sign}) * (1.0D + {frac}) * pow(2.0D, CAST({exp} AS DOUBLE) - 127.0D)"
    subnormal = f"({sign}) * {frac} * {sql_double(2.0 ** -126)}"
    inf_or_nan = f"CASE WHEN {man} = 0 THEN ({sign}) * {sql_double(math.inf)} ELSE {sql_double(math.nan)} END"
    return f"(CASE WHEN {exp} = 255 THEN {inf_or_nan} WHEN {exp} = 0 THEN {subnormal} ELSE {normal} END)"
