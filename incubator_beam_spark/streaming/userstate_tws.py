"""Stateful ParDo on Spark 4's transformWithStateInPandas — the modern
backend for the reference's userstate surface (SURVEY.md §2.7).

Where ``userstate.py`` multiplexes Beam's named timers onto
``applyInPandasWithState``'s single timeout, Spark 4's
``StatefulProcessor`` has NATIVE multi-timer support
(``handle.registerTimer`` / ``listTimers`` / ``handleExpiredTimer``) and
typed state cells with TTL — a near 1:1 target for Beam's
``TimerSpec`` + state cells. Timer NAMES are the one Beam feature still
missing (Spark timers are bare timestamps), so a name->instant map in a
value cell tags each registered instant; everything else is direct.

Requires the RocksDB state store (``transformWithState`` contract); the
adapter sets the provider conf on the session if unset. The provider is
read when the query starts, so the flip outlives the builder call: start
the query inside ``restore_state_store_provider(spark)`` to hand later
stateful queries the session's own store back. TimeMode
EventTime requires an upstream ``withWatermark``.

ENVIRONMENT GATE: the engine-side TWS state server speaks protobuf to
the Python worker; if ``google.protobuf`` is not importable the query
crashes at init ([STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE]).
``stateful_pardo_tws`` calls ``pbshim.activate()`` up front and raises a
clear ImportError only when no protobuf runtime exists at all — use
``userstate.stateful_pardo`` (applyInPandasWithState, no protobuf
dependency) in that case; same contract.

UNBLOCKED (round 5, superseding round 4's impossibility note): round 4
missed the Google Cloud SDK's vendored pure-Python protobuf 6.32.0
runtime (unmodified ``google.protobuf`` package names under
``platform/google_appengine``). ``incubator_beam_spark/pbshim.py`` makes
it importable in the driver AND in JVM-spawned Python workers (a
``sitecustomize`` rides PYTHONPATH, set before the JVM starts), no-oping
only the 6.32-runtime-vs-6.33-gencode version-policy gate — the wire
format is identical. On a normally-provisioned cluster the real
``pip install protobuf`` is found first and the shim is inert.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def restore_state_store_provider(spark: SparkSession) -> Iterator[None]:
    """Put the session's state-store provider conf back as it was on
    entry (unset again if it was unset), whatever ran inside."""
    prev = spark.conf.get(_PROVIDER, None)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER)
        else:
            spark.conf.set(_PROVIDER, prev)


class TwsContext:
    """Beam-style view over the native handle: cells (JSON blob in a
    ValueState) + named timers (name->ms map riding the same cell,
    instants registered natively)."""

    def __init__(self, cell_state, blob: dict, timer_values, pending_registers: list,
                 pending_deletes: list):
        self._cells = blob["cells"]
        self._timers = blob["timers"]
        self._registers = pending_registers
        self._deletes = pending_deletes
        self.watermark = timer_values.getCurrentWatermarkInMs() / 1000.0
        self.processing_time = timer_values.getCurrentProcessingTimeInMs() / 1000.0

    def read(self, cell: str, default: Any = None) -> Any:
        return self._cells.get(cell, default)

    def write(self, cell: str, value: Any) -> None:
        self._cells[cell] = value

    def clear(self, cell: str) -> None:
        self._cells.pop(cell, None)

    def bag_add(self, cell: str, value: Any) -> None:
        self._cells.setdefault(cell, []).append(value)

    def bag_read(self, cell: str) -> list:
        return self._cells.get(cell, [])

    def set_timer(self, name: str, instant: float) -> None:
        ms = int(instant * 1000)
        old = self._timers.get(name)
        if old is not None:
            self._deletes.append(old)
        self._timers[name] = ms
        self._registers.append(ms)

    def clear_timer(self, name: str) -> None:
        ms = self._timers.pop(name, None)
        if ms is not None:
            self._deletes.append(ms)


class _BeamProcessor(StatefulProcessor):
    def __init__(self, process_fn, on_timer_fn, out_cols):
        self._process = process_fn
        self._on_timer = on_timer_fn
        self._out_cols = out_cols

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("beam_cells", "blob STRING")
        self._handle = handle

    def _load(self) -> dict:
        got = self._state.get()
        return json.loads(got[0]) if got else {"cells": {}, "timers": {}}

    def _finish(self, blob: dict, registers: list, deletes: list) -> None:
        self._state.update((json.dumps(blob),))
        for ms in deletes:
            self._handle.deleteTimer(ms)
        for ms in registers:
            self._handle.registerTimer(ms)

    def _emit(self, rows: list) -> Iterator[pd.DataFrame]:
        if rows:
            yield pd.DataFrame(rows, columns=self._out_cols)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        # pyspark invokes these hooks with camelCase KEYWORD arguments
        # (stateful_processor_util.py) — parameter names are part of the ABI.
        timer_values = timerValues
        blob, registers, deletes = self._load(), [], []
        ctx = TwsContext(self._state, blob, timer_values, registers, deletes)
        out: list = []
        for pdf in rows:
            if len(pdf):
                out.extend(self._process(key[0], pdf, ctx) or [])
        self._finish(blob, registers, deletes)
        return self._emit(out)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        timer_values, expired_timer_info = timerValues, expiredTimerInfo
        expired_ms = expired_timer_info.getExpiryTimeInMs()
        blob, registers, deletes = self._load(), [], []
        ctx = TwsContext(self._state, blob, timer_values, registers, deletes)
        due = sorted(
            (ms, name) for name, ms in blob["timers"].items() if ms <= expired_ms
        )
        out: list = []
        for ms, name in due:
            del blob["timers"][name]
            if self._on_timer:
                out.extend(self._on_timer(key[0], name, ctx) or [])
        self._finish(blob, registers, deletes)
        return self._emit(out)

    def close(self) -> None:
        pass


def stateful_pardo_tws(
    df: DataFrame,
    key_col: str,
    output_schema: T.StructType,
    process: Callable[[Any, pd.DataFrame, TwsContext], list],
    on_timer: Callable[[Any, str, TwsContext], list] | None = None,
    time_mode: str = "EventTime",
):
    """Beam stateful ParDo on the native transformWithStateInPandas
    primitive. Same contract as ``userstate.stateful_pardo`` (process /
    on_timer emitting tuples for ``output_schema``), but timers are
    engine-managed: no deadline re-arming, per-timer wake-ups, and the
    state store is RocksDB. The provider flip stays on the session; see
    ``restore_state_store_provider``."""
    from incubator_beam_spark import pbshim

    if not pbshim.activate():
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf (none "
            "installed and no vendored runtime found — see pbshim.py); "
            "use userstate.stateful_pardo (applyInPandasWithState) instead"
        )
    spark = df.sparkSession
    if "RocksDB" not in spark.conf.get(_PROVIDER, ""):
        spark.conf.set(_PROVIDER, _ROCKSDB)
    out_cols = [f.name for f in output_schema.fields]
    return df.groupBy(F.col(key_col)).transformWithStateInPandas(
        _BeamProcessor(process, on_timer, out_cols),
        output_schema,
        "Append",
        time_mode,
    )
