"""Reference decoder and output check, independent of the program.

Written from the DBC and candump text formats alone, in numpy/pandas: no
import of the program's parser, compiler or operators.  Signal bits are
gathered one at a time (Intel: LSB first, upward; Motorola: MSB first along
the DBC sawtooth), so the check does not share the program's word-shift
arithmetic.

Expected output of ``<dbc> --if <log> --cache C [--forward-fill]``:
``Time_ms = (ts - min ts) * 1000`` over every parseable line; frames with
ids the DBC lacks are dropped; with ``C > 0`` rows collapse to buckets
``floor(Time_ms / C) * C``, each signal keeping its last non-null value;
``--forward-fill`` carries each signal's last value over later buckets.
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

_BO = re.compile(r"^BO_\s+(\d+)\s+\w+\s*:")
_SG = re.compile(
    r"^\s*SG_\s+(\w+)\s*(M|m\d+)?\s*:\s*(\d+)\|(\d+)@([01])([+-])\s*\(([^,]+),([^)]+)\)"
)
_LINE = re.compile(r"^\((\d+\.\d+)\)\s+(\S+)\s+([0-9A-Fa-f]{1,8})#([0-9A-Fa-f]*)$")


@dataclass(frozen=True)
class Signal:
    name: str          # output column (``flt32_`` prefix stripped)
    can_id: int
    start: int
    length: int
    intel: bool
    signed: bool
    factor: float
    offset: float
    float32: bool
    mux: int | None    # decode only when the message's switch equals this

    @property
    def dtype(self) -> str:
        """Output column type: arrow type name of the decoded column."""
        if self.float32:
            return "float"
        if self.length == 1:
            return "bool"
        if self.factor == 1.0 and self.offset == 0.0:
            return "int64" if self.length > 32 or (self.length == 32 and not self.signed) else "int32"
        return "double" if self.length >= 32 else "float"


def parse_dbc(text: str) -> tuple[list[Signal], dict[int, Signal]]:
    """Signals in declaration order, and each muxed message's switch."""
    signals: list[Signal] = []
    switches: dict[int, Signal] = {}
    cur = None
    for line in text.splitlines():
        if m := _BO.match(line.strip()):
            cur = int(m.group(1)) & 0x7FFFFFFF
            continue
        m = _SG.match(line)
        if not m or cur is None:
            continue
        name, tag, start, length, order, sign, factor, offset = m.groups()
        is_f32 = name.startswith("flt32_")
        sig = Signal(
            name=name[len("flt32_"):] if is_f32 else name,
            can_id=cur, start=int(start), length=int(length), intel=order == "1",
            signed=sign == "-", factor=float(factor), offset=float(offset),
            float32=is_f32, mux=int(tag[1:]) if tag and tag[0] == "m" else None,
        )
        if tag == "M":
            switches[cur] = sig
        else:
            signals.append(sig)
    return signals, switches


def bit_positions(sig: Signal) -> list[int]:
    """DBC bit numbers (``8 * byte + bit``) of ``sig``, most significant first."""
    if sig.intel:
        return [sig.start + k for k in range(sig.length)][::-1]
    out, pos = [], sig.start
    for _ in range(sig.length):
        out.append(pos)
        pos = pos + 15 if pos % 8 == 0 else pos - 1
    return out


def raw_value(payload: np.ndarray, sig: Signal) -> np.ndarray:
    """Unsigned raw field of ``sig`` for each row of an ``(n, 8)`` uint8 payload."""
    raw = np.zeros(len(payload), dtype=np.uint64)
    for pos in bit_positions(sig):
        bit = (payload[:, pos // 8] >> np.uint8(pos % 8)) & np.uint8(1)
        raw = (raw << np.uint64(1)) | bit.astype(np.uint64)
    return raw


def physical(raw: np.ndarray, sig: Signal) -> np.ndarray:
    """Decoded values as float64 (exact for every column type here: bools
    become 0/1, float32 values widen losslessly)."""
    if sig.float32:
        return raw.astype(np.uint32).view(np.float32).astype(np.float64)
    val = raw.astype(np.int64)
    if sig.signed:
        val = np.where(val >= 1 << (sig.length - 1), val - (1 << sig.length), val)
    if sig.length == 1:
        return (val != 0).astype(np.float64)
    if sig.factor == 1.0 and sig.offset == 0.0:
        return val.astype(np.float64)
    phys = val.astype(np.float64) * sig.factor + sig.offset
    return phys if sig.dtype == "double" else phys.astype(np.float32).astype(np.float64)


def parse_log(path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(ts, can_id, payload)`` of every well-formed line; payloads are
    zero-padded (or cut) to 8 bytes."""
    ts, ids, data = [], [], []
    with open(path) as fh:
        for line in fh:
            m = _LINE.match(line.strip())
            if not m or len(m.group(4)) % 2:
                continue
            ts.append(float(m.group(1)))
            ids.append(int(m.group(3), 16))
            data.append(bytes.fromhex(m.group(4))[:8].ljust(8, b"\0"))
    payload = np.frombuffer(b"".join(data), dtype=np.uint8).reshape(-1, 8)
    return np.asarray(ts, dtype=np.float64), np.asarray(ids, dtype=np.int64), payload


def decode(dbc_text: str, log_path: str, cache_ms: float, forward_fill: bool) -> pd.DataFrame:
    """The expected output table (row order: by ``Time_ms``); every signal
    column is float64 with NaN for null."""
    signals, switches = parse_dbc(dbc_text)
    ts, ids, payload = parse_log(log_path)
    time_ms = (ts - ts.min()) * 1000.0
    known = np.isin(ids, sorted({s.can_id for s in signals}))
    ids, payload, time_ms = ids[known], payload[known], time_ms[known]
    cols = {"Time_ms": time_ms}
    for sig in signals:
        rows = np.flatnonzero(ids == sig.can_id)
        val = physical(raw_value(payload[rows], sig), sig)
        if sig.mux is not None:
            val[raw_value(payload[rows], switches[sig.can_id]) != sig.mux] = np.nan
        col = np.full(len(ids), np.nan)
        col[rows] = val
        cols[sig.name] = col
    wide = pd.DataFrame(cols).sort_values("Time_ms", kind="stable")
    if cache_ms > 0:
        wide["Time_ms"] = (np.floor(wide["Time_ms"] / cache_ms) * cache_ms).astype(np.int64)
        # GroupBy.last skips nulls: the last non-null value per signal
        wide = wide.groupby("Time_ms", sort=True).last().reset_index()
    if forward_fill:
        wide = wide.ffill()
    return wide.reset_index(drop=True)


def summarize(df: pd.DataFrame) -> dict:
    """Row count and, per column, non-null count and float64 sum (bools
    count their true values)."""
    cols = {}
    for name in df.columns:
        s = df[name].dropna().astype(np.float64)
        cols[name] = [int(len(s)), float(s.sum())]
    return {"rows": int(len(df)), "columns": list(df.columns), "stats": cols}


def expected_types(dbc_text: str, cache_ms: float) -> dict[str, str]:
    signals, _ = parse_dbc(dbc_text)
    return {"Time_ms": "int64" if cache_ms > 0 else "double", **{s.name: s.dtype for s in signals}}


def output_files(out_dir: str) -> list[str]:
    return sorted(
        os.path.join(out_dir, f) for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def check_output(out_dir: str, expected: dict, types: dict[str, str], rel_tol: float = 1e-6) -> list[str]:
    """Compare a written Parquet directory with the expected summary;
    returns the list of mismatches (empty when the output is right)."""
    import pyarrow.parquet as pq

    files = output_files(out_dir)
    if not files:
        return [f"no parquet files in {out_dir}"]
    table = pq.read_table(files)
    errors = []
    if table.column_names != expected["columns"]:
        return [f"columns {table.column_names} != {expected['columns']}"]
    got_types = {f.name: str(f.type) for f in table.schema}
    if got_types != types:
        errors.append(f"types {got_types} != {types}")
    if table.num_rows != expected["rows"]:
        errors.append(f"rows {table.num_rows} != {expected['rows']}")
    got = summarize(table.to_pandas())["stats"]
    for name, (n_exp, sum_exp) in expected["stats"].items():
        n_got, sum_got = got[name]
        if n_got != n_exp:
            errors.append(f"{name}: non-null {n_got} != {n_exp}")
        elif not math.isclose(sum_got, sum_exp, rel_tol=rel_tol, abs_tol=1e-6):
            errors.append(f"{name}: sum {sum_got!r} != {sum_exp!r}")
    return errors
