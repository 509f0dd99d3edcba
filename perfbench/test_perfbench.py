"""Tests of the benchmark's own pieces: reference decoder, generator and
output check.  No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import reference

BASE = 1_700_000_000


def _log(tmp_path, frames) -> str:
    """Write ``[(seconds after BASE, can id, payload bytes)]`` as a candump log."""
    path = tmp_path / "cap.log"
    path.write_text("".join(
        f"({BASE + t:.6f}) vcan0 {cid:X}#{bytes(p).hex().upper()}\n" for t, cid, p in frames))
    return str(path)


def _row(df, i: int) -> dict:
    return {k: (None if isinstance(v, float) and math.isnan(v) else v) for k, v in df.iloc[i].items()}


def test_hand_computed_frames(tmp_path):
    f32 = struct.pack("<f", 1.5)
    log = _log(tmp_path, [
        # EngSpeed raw 0x2710 * 0.25; EngTorque 12-bit 0xFFF -> -1
        (0.000, 0x100, [0x10, 0x27, 0xFF, 0x0F, 0, 0, 0, 0]),
        # Motorola from bit 7, 16 bits: raw 0x1234 -> 4660 * 0.1 - 50
        (0.001, 0x200, [0x12, 0x34, 0, 0, 0, 0, 0, 0]),
        # mux 1: Motorola signed 10 bits from bit 23: 0b1000000001 -> -511
        (0.002, 0x300, [0x01, 0x00, 0x80, 0x40, 0, 0, 0, 0]),
        # mux 0: 1-bit bool at bit 8
        (0.003, 0x300, [0x00, 0x01, 0, 0, 0, 0, 0, 0]),
        # mux 2: no signal selected; unknown id dropped
        (0.004, 0x300, [0x02, 0xFF, 0xFF, 0xFF, 0, 0, 0, 0]),
        (0.005, 0x7DF, [0] * 8),
    ])
    df = reference.decode(gen.NARROW_DBC, log, 0.0, False)
    assert list(df.columns) == ["Time_ms", "EngSpeed", "EngTorque", "BrakePressure", "DoorOpen", "CoolantTemp"]
    assert len(df) == 5
    r0, r1, r2, r3, r4 = (_row(df, i) for i in range(5))
    assert r0["EngSpeed"] == 2500.0 and r0["EngTorque"] == -1 and r0["BrakePressure"] is None
    assert r1["BrakePressure"] == pytest.approx(416.0) and r1["EngSpeed"] is None
    assert r1["Time_ms"] == pytest.approx(1.0, abs=1e-3)  # ts resolution at 1.7e9 s
    assert r2["CoolantTemp"] == -511 * 0.5 - 40 and r2["DoorOpen"] is None
    assert r3["DoorOpen"] == 1.0 and r3["CoolantTemp"] is None
    assert r4["DoorOpen"] is None and r4["CoolantTemp"] is None
    # float32 reinterpret (flt32_ prefix stripped from the column)
    dbc = 'BO_ 1024 F: 8 X\n SG_ flt32_Val : 0|32@1+ (1,0) [0|0] "" X\n'
    log = _log(tmp_path, [(0.0, 0x400, list(f32) + [0, 0, 0, 0])])
    assert reference.decode(dbc, log, 0.0, False)["Val"].tolist() == [1.5]
    assert reference.expected_types(dbc, 0.0) == {"Time_ms": "double", "Val": "float"}


def test_motorola_bit_order():
    sig = reference.Signal("m", 1, start=7, length=16, intel=False, signed=False,
                           factor=1.0, offset=0.0, float32=False, mux=None)
    assert reference.bit_positions(sig) == list(range(7, -1, -1)) + list(range(15, 7, -1))
    payload = np.array([[0xAB, 0xCD, 0, 0, 0, 0, 0, 0]], dtype=np.uint8)
    assert reference.raw_value(payload, sig).tolist() == [0xABCD]
    intel = reference.Signal("i", 1, 4, 8, True, False, 1.0, 0.0, False, None)
    assert reference.raw_value(payload, intel).tolist() == [0xDA]


def test_bucket_last_value_and_forward_fill(tmp_path):
    log = _log(tmp_path, [
        (0.000, 0x100, [4, 0, 1, 0, 0, 0, 0, 0]),     # bucket 0: EngSpeed 1.0, EngTorque 1
        (0.004, 0x100, [8, 0, 2, 0, 0, 0, 0, 0]),     # bucket 0 again: last wins
        (0.012, 0x200, [0x02, 0x08, 0, 0, 0, 0, 0, 0]),  # bucket 10: BrakePressure
        (0.031, 0x300, [0x00, 0x01, 0, 0, 0, 0, 0, 0]),  # bucket 30: DoorOpen
    ])
    df = reference.decode(gen.NARROW_DBC, log, 10.0, False)
    assert df["Time_ms"].tolist() == [0, 10, 30]
    assert df["EngSpeed"].tolist()[0] == 2.0 and df["EngTorque"].tolist()[0] == 2
    assert math.isnan(df["EngSpeed"].tolist()[1])
    filled = reference.decode(gen.NARROW_DBC, log, 10.0, True)
    assert filled["EngSpeed"].tolist() == [2.0, 2.0, 2.0]
    assert filled["BrakePressure"].tolist()[0] != filled["BrakePressure"].tolist()[0]  # NaN before first
    assert filled["BrakePressure"].tolist()[2] == pytest.approx(0x0208 * 0.1 - 50)


def test_generator_is_deterministic():
    ids = gen.message_ids(gen.NARROW_DBC)
    a = gen.candump_lines(7, 5000, ids)
    assert a == gen.candump_lines(7, 5000, ids)
    assert a != gen.candump_lines(8, 5000, ids)
    malformed = sum(not line.startswith("(") or "#" not in line or "G" in line for line in a)
    unknown = sum(any(f" {u:X}#" in line for u in gen.UNKNOWN_IDS) for line in a)
    assert 0 < malformed < 100 and 10 < unknown < 150
    ts = [line[1:line.index(")")] for line in a if line.startswith("(")]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_dbc_shapes():
    signals, switches = reference.parse_dbc(gen.wide_dbc())
    assert len(signals) == 32 and len({s.can_id for s in signals}) == 4
    assert sum(s.float32 for s in signals) == 1 and len(switches) == 1
    assert {s.intel for s in signals} == {True, False}
    signals, switches = reference.parse_dbc(gen.NARROW_DBC)
    assert len(signals) == 5 and len({s.can_id for s in signals}) == 3 and len(switches) == 1


def test_check_output_flags_a_wrong_expected_value(tmp_path):
    out = tmp_path / "out"
    out.mkdir()
    table = pa.table({"Time_ms": pa.array([0, 10], pa.int64()), "EngSpeed": pa.array([1.5, None], pa.float32())})
    pq.write_table(table, out / "part-0.parquet")
    (out / "_SUCCESS").write_text("")
    expected = reference.summarize(table.to_pandas())
    types = {"Time_ms": "int64", "EngSpeed": "float"}
    assert reference.check_output(str(out), expected, types) == []
    wrong_sum = {**expected, "stats": {**expected["stats"], "EngSpeed": [1, 2.5]}}
    assert reference.check_output(str(out), wrong_sum, types)
    assert reference.check_output(str(out), {**expected, "rows": 3}, types)
    assert reference.check_output(str(out), expected, {**types, "EngSpeed": "double"})
