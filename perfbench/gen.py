"""Seeded inputs for the benchmark: DBC texts and candump logs.

Both DBC layouts are fixed, so every seed decodes the same columns; the seed
draws the bus traffic (timestamps, ids, payloads, malformed lines).  The
program under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np

#: 5 output signals over 3 messages: Intel scaled, Intel signed, Motorola
#: scaled, and a mux pair (a 1-bit bool and a Motorola signed scaled field).
NARROW_DBC = """VERSION ""

BO_ 256 ENGINE: 8 ECU
 SG_ EngSpeed : 0|16@1+ (0.25,0) [0|16383.75] "rpm" X
 SG_ EngTorque : 16|12@1- (1,0) [-2048|2047] "Nm" X
BO_ 512 BRAKE: 8 ECU
 SG_ BrakePressure : 7|16@0+ (0.1,-50) [-50|6503.5] "bar" X
BO_ 768 BODY: 8 ECU
 SG_ BodyMux M : 0|2@1+ (1,0) [0|3] "" X
 SG_ DoorOpen m0 : 8|1@1+ (1,0) [0|1] "" X
 SG_ CoolantTemp m1 : 23|10@0- (0.5,-40) [-296|215.5] "degC" X
"""

#: CAN ids that no DBC here defines (11-bit diagnostics and a 29-bit id).
UNKNOWN_IDS = (0x7DF, 0x7E8, 0x18DAF110)
#: Shares of log lines that are malformed / carry an unknown id.
MALFORMED_SHARE, UNKNOWN_SHARE = 0.005, 0.01
#: The wide DBC's message carrying a ``flt32_`` signal in bytes 0-3.
FLOAT32_ID = 1024
#: Bus rate of every generated log.
RATE_HZ = 3000.0

#: Line shapes the candump grammar rejects; ``{s}``/``{u}`` are the
#: timestamp's seconds and microseconds.
MALFORMED = (
    "({s}.{u:06d}) vcan0 1G0#0011223344556677",
    "({s}.{u:06d}) vcan0",
    "garbage line {u}",
    "({s}.{u:06d}) vcan0 100#00GG",
)


def wide_dbc() -> str:
    """32 output signals: 4 messages x 8 signals.

    Message 0 carries a ``flt32_`` float; message 1 is multiplexed (4 mux
    values x 2 signals); messages 2 (Intel) and 3 (Motorola) sign every odd
    signal and scale every third.
    """
    lines = ['VERSION ""', ""]
    lines.append(f"BO_ {FLOAT32_ID} W00: 8 ECU")
    lines.append(' SG_ flt32_W00_F : 0|32@1+ (1,0) [0|0] "" X')
    for k in range(6):
        lines.append(f' SG_ W00_S{k} : {32 + 4 * k}|4@1{"-" if k % 2 else "+"} (1,0) [0|0] "" X')
    lines.append(' SG_ W00_S6 : 56|8@1+ (0.5,-10) [0|0] "" X')
    lines.append("BO_ 1040 W01: 8 ECU")
    lines.append(' SG_ W01_Mux M : 0|3@1+ (1,0) [0|7] "" X')
    for v in range(4):
        lines.append(f' SG_ W01_A{v} m{v} : 8|16@1- (1,0) [0|0] "" X')
        lines.append(f' SG_ W01_B{v} m{v} : 24|16@1+ (0.05,0) [0|0] "" X')
    for m in range(2, 4):
        intel = m % 2 == 0
        lines.append(f"BO_ {1024 + 16 * m} W{m:02d}: 8 ECU")
        for k in range(8):
            start = 8 * k if intel else 8 * k + 7
            sign = "-" if k % 2 else "+"
            scale = f"({0.1 * (k + 1):g},{-k})" if k % 3 == 0 else "(1,0)"
            lines.append(
                f' SG_ W{m:02d}_S{k} : {start}|8@{1 if intel else 0}{sign} {scale} [0|0] "" X'
            )
    return "\n".join(lines) + "\n"


def message_ids(dbc_text: str) -> list[int]:
    return [int(ln.split()[1]) for ln in dbc_text.splitlines() if ln.startswith("BO_ ")]


def candump_lines(seed: int, n_lines: int, ids: list[int]) -> list[str]:
    """A time-sorted ``candump -l`` log of ``n_lines`` lines.

    Timestamps step by a jittered ``1/RATE_HZ`` in whole microseconds, so no
    two lines share one; payloads are 8 random bytes, except that
    ``FLOAT32_ID`` frames carry a finite little-endian float32 in bytes 0-3.
    """
    rng = np.random.default_rng(seed)
    mean_us = 1e6 / RATE_HZ
    gaps = np.maximum(1, np.round(rng.uniform(0.5, 1.5, n_lines) * mean_us)).astype(np.int64)
    start_us = (1_700_000_000 + int(rng.integers(0, 10_000_000))) * 1_000_000
    ts_us = start_us + np.cumsum(gaps)
    kind = rng.random(n_lines)
    can_id = np.asarray(ids, dtype=np.int64)[rng.integers(0, len(ids), n_lines)]
    unknown = (kind >= MALFORMED_SHARE) & (kind < MALFORMED_SHARE + UNKNOWN_SHARE)
    can_id[unknown] = np.asarray(UNKNOWN_IDS, dtype=np.int64)[rng.integers(0, len(UNKNOWN_IDS), int(unknown.sum()))]
    payload = rng.integers(0, 256, (n_lines, 8), dtype=np.uint8)
    rows = can_id == FLOAT32_ID
    vals = rng.uniform(-1000.0, 1000.0, int(rows.sum())).astype("<f4")
    payload[rows, :4] = vals.view(np.uint8).reshape(-1, 4)
    hexes = [bytes(p).hex().upper() for p in payload]
    out = []
    for i in range(n_lines):
        s, u = divmod(int(ts_us[i]), 1_000_000)
        if kind[i] < MALFORMED_SHARE:
            out.append(MALFORMED[i % len(MALFORMED)].format(s=s, u=u))
        else:
            out.append(f"({s}.{u:06d}) vcan0 {int(can_id[i]):X}#{hexes[i]}")
    return out


def write_inputs(directory: str, dbc_text: str, lines: list[str]) -> tuple[str, str]:
    """Write ``bus.dbc`` and ``capture.log`` into ``directory``."""
    os.makedirs(directory, exist_ok=True)
    dbc_path = os.path.join(directory, "bus.dbc")
    log_path = os.path.join(directory, "capture.log")
    with open(dbc_path, "w") as fh:
        fh.write(dbc_text)
    with open(log_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return dbc_path, log_path
