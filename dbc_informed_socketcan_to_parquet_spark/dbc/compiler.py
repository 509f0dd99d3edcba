"""DBC → SQL-expression compiler (the engine's "physical decode codegen").

Replaces the reference's per-frame interpretive decode loop
(reference/src/decoder.cpp:76-129) with driver-side generation of
Spark SQL expression *text*: one expression string per signal, covering
bit extraction, sign extension, float32 reinterpret, factor/offset, bool,
mux/message gating and the final cast.

Building the plan is string work on the driver.  A ``Column``-algebra
build pays several py4j round trips per ``F.*`` call — hundreds per signal
once the payload word is rebuilt inside every one — while the text
compiles and reaches Spark in a constant number of calls, however wide
the DBC.

``decode_wide`` projects the big- and little-endian payload words once per
frame as their own columns, then applies every signal as one
``selectExpr`` over them.  Catalyst's ``CollapseProject`` does not inline a
costly expression that several consumers reference, so the words stay
computed once per frame and the decode remains one WholeStageCodegen stage
with zero Python in the data path.  ``phys_expr``/``enum_expr`` return the
same text as a ``Column`` with the word expression written inline, for
callers that place single signals in their own projections.

Scale notes (100 TB):
- The known-id filter (T6) is an ``IN`` over a driver-side literal list —
  pushed into the parquet/text scan by Catalyst; for very large dictionaries
  it degrades gracefully to a broadcast left-semi join (both provided).
- Wide decode = N pure projections; no shuffle is introduced until the
  downsample aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbc_informed_socketcan_to_parquet_spark.dbc.spec import BOOL, FLOAT32, FLOAT64, DbcSpec, MessageSpec, SignalSpec
from dbc_informed_socketcan_to_parquet_spark.functions.bitfield import (
    extract_bits,
    ieee754_float32,
    motorola_lsb,
    payload_be_u64,
    payload_le_u64,
    sign_extend,
    sql_double,
    to_double,
)

#: Per-frame payload-word columns that ``decode_wide`` projects once.
_BE_WORD, _LE_WORD = "__dbc_word_be", "__dbc_word_le"


def _quote(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _select_sql(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a constant number of py4j round trips.

    PySpark ships a Python list to the JVM one element per round trip; the
    expressions go over as one joined string instead, split JVM-side into
    the ``String[]`` that the varargs ``Dataset.selectExpr`` takes.  Spark
    Connect has no ``_jdf`` and batches the list itself.
    """
    if not hasattr(df, "_jdf"):
        return df.selectExpr(*exprs)
    sep = "\u0001"
    jvm = df.sparkSession._jvm
    arr = jvm.java.util.regex.Pattern.compile(sep).split(sep.join(exprs))
    return type(df)(df._jdf.selectExpr(arr), df.sparkSession)


class DecodeCompiler:
    """Compiles a :class:`DbcSpec` into decode expressions over a frames DF.

    Frames schema contract (FIXTURES.md §1.2): ``ts double`` (epoch s),
    ``can_id long``, ``data binary``, plus arbitrary passthrough columns.
    """

    def __init__(self, spec: DbcSpec, can_id_col: str = "can_id", data_col: str = "data"):
        self.spec = spec
        self.can_id_col = can_id_col
        self.data_col = data_col

    def _inline_words(self) -> dict[str, str]:
        be = payload_be_u64(_quote(self.data_col))
        return {"big": be, "little": payload_le_u64(be)}

    # -- signal-level (SQL text) -------------------------------------------

    def raw_sql(self, sig: SignalSpec, words: dict[str, str]) -> str:
        """Unsigned raw bit-field of one signal from its payload word;
        ``words`` maps byte order to the word's SQL expression."""
        if sig.byte_order == "little":
            lsb = sig.start_bit
        else:
            lsb = motorola_lsb(sig.start_bit, sig.bit_length)
        return extract_bits(words[sig.byte_order], lsb, sig.bit_length)

    def phys_sql(self, sig: SignalSpec, msg: MessageSpec | None, words: dict[str, str]) -> str:
        """Physical value as SQL text — see :meth:`phys_expr`."""
        raw = self.raw_sql(sig, words)
        if sig.is_float32:
            num = ieee754_float32(raw)
        else:
            num = sign_extend(raw, sig.bit_length) if sig.is_signed else raw
            tag = sig.type_tag
            if tag in (FLOAT32, FLOAT64) or (tag != BOOL and (sig.factor != 1.0 or sig.offset != 0.0)):
                as_double = to_double(num, sig.bit_length, sig.is_signed)
                num = f"{as_double} * {sql_double(sig.factor)} + {sql_double(sig.offset)}"
        # Gate on owning message id — a frame only carries its own signals
        # (scatter loop, /root/reference/src/decoder.cpp:92-116).
        if msg is not None:
            gate = f"{_quote(self.can_id_col)} = {msg.can_id}"
            # Multiplexed signal: additionally require the mux switch value
            # (T5, /root/reference/src/decoder.cpp:85-88).
            if sig.mux_switch_value is not None and msg.mux_switch is not None:
                gate += f" AND {self.raw_sql(msg.mux_switch, words)} = {sig.mux_switch_value}"
            num = f"({num} + CASE WHEN {gate} THEN 0 END)"
        value = f"({num} != 0)" if sig.type_tag == BOOL else num
        return f"CAST({value} AS {sig.spark_type.simpleString()})"

    # -- signal-level (Column) ---------------------------------------------

    def phys_expr(self, sig: SignalSpec, msg: MessageSpec | None = None) -> Column:
        """Physical value: raw → (sign extend) → reinterpret/scale → cast,
        as one SQL expression over an inline payload word.

        Mirrors dbcppp RawToPhys semantics (phys = raw * factor + offset,
        reference/src/decoder.cpp:103-115) and the flt32 reinterpret
        convention (decoder.cpp:28-37); typing per SignalSpec.type_tag.
        The text is the one :meth:`decode_wide` applies over its projected
        word columns, so both paths decode identically.

        The message gate is applied by *arithmetic masking*
        (``value + CASE WHEN gate THEN 0 END``), not ``CASE WHEN gate THEN
        value END``: the value subtree stays UNCONDITIONAL, so when several
        ``phys_expr`` columns share one projection, Catalyst's codegen
        subexpression elimination shares their inline payload-word assembly.
        Wrong-message rows compute a wasted value (cheap integer ops) and
        null out via ``x + NULL = NULL``.
        """
        return F.expr(self.phys_sql(sig, msg, self._inline_words()))

    def enum_expr(self, sig: SignalSpec, msg: MessageSpec) -> Column:
        """VAL_ value-table rendering: raw value → label string (falls back
        to the number as text for unmapped values).  A driver-side literal
        map compiled into element_at on a map literal — no join, no UDF."""
        table = self.spec.value_tables.get((msg.can_id, sig.name))
        raw = self.raw_sql(sig, self._inline_words())
        signed = sign_extend(raw, sig.bit_length) if sig.is_signed else raw
        as_text = f"CAST({signed} AS STRING)"
        if not table:
            return F.expr(as_text)
        mapping = ", ".join(f"{int(k)}, {_sql_string(v)}" for k, v in sorted(table.items()))
        labeled = f"coalesce(element_at(map({mapping}), CAST({signed} AS INT)), {as_text})"
        return F.expr(f"CASE WHEN {_quote(self.can_id_col)} = {msg.can_id} THEN {labeled} END")

    # -- frame-level -------------------------------------------------------

    def known_id_filter(self, frames: DataFrame) -> DataFrame:
        """T6: drop frames whose id is not in the dictionary
        (reference/src/decoder.cpp:77-79).  Literal ``IN`` —
        Catalyst pushes it to the scan."""
        ids = ", ".join(str(i) for i in self.spec.known_ids())
        return frames.filter(f"{_quote(self.can_id_col)} IN ({ids})" if ids else "false")

    def known_id_semi_join(self, frames: DataFrame, spark) -> DataFrame:
        """T6 as an explicit broadcast left-semi join against the dictionary
        table — the form that scales to dictionaries too large for a
        literal list."""
        ids = spark.createDataFrame([(i,) for i in self.spec.known_ids()], f"{self.can_id_col} long")
        return frames.join(F.broadcast(ids), self.can_id_col, "left_semi")

    def decode_wide(
        self,
        frames: DataFrame,
        time_col: str = "Time_ms",
        keep_cols: tuple[str, ...] = (),
        filter_known: bool = True,
    ) -> DataFrame:
        """Sparse wide decode: one row per frame, one column per DBC signal,
        NULL for signals not carried by the frame's message.

        This is the long→wide pivot (A3) in its shuffle-free form: because
        the signal→message mapping is known at compile time, the "pivot" is
        just N conditional projections — no groupBy, no extra scan.
        The payload words are projected once per frame as columns (an
        unused one is pruned by Catalyst); every signal then reads them.
        Downstream, the bucket downsample (operators/bucket.py) collapses
        rows per time bucket.
        """
        if filter_known:
            frames = self.known_id_filter(frames)
        words = frames.selectExpr("*", f"{payload_be_u64(_quote(self.data_col))} AS {_BE_WORD}")
        words = words.selectExpr("*", f"{payload_le_u64(_BE_WORD)} AS {_LE_WORD}")
        refs = {"big": _BE_WORD, "little": _LE_WORD}
        exprs = [_quote(c) for c in keep_cols]
        exprs.append(f"`ts` * 1000.0D AS {_quote(time_col)}")
        for msg, sig in self.spec.all_signals():
            exprs.append(f"{self.phys_sql(sig, msg, refs)} AS {_quote(sig.column_name)}")
        return _select_sql(words, exprs)

    def signal_spec_df(self, spark) -> DataFrame:
        """The dictionary as a small DataFrame (broadcastable dimension) —
        FIXTURES.md §1.3 schema."""
        rows = []
        for msg, sig in self.spec.all_signals():
            rows.append(
                (
                    msg.can_id,
                    sig.name,
                    sig.start_bit,
                    sig.bit_length,
                    sig.byte_order,
                    sig.is_signed,
                    float(sig.factor),
                    float(sig.offset),
                    sig.is_float32,
                    sig.mux_switch_value,
                )
            )
        schema = (
            "can_id long, signal_name string, start_bit int, bit_length int, "
            "byte_order string, is_signed boolean, factor double, offset double, "
            "is_float32 boolean, mux_switch_value int"
        )
        return spark.createDataFrame(rows, schema)
