"""Sustained-threshold alerting (§2.8 stateful operator).

State machine semantics of ``src/alert_manager.rs:20-43,113-177``:

* status from thresholds: wal_size ≥ danger → DANGER, ≥ warning →
  WARNING, else NORMAL (defaults 6000/3000 MB,
  ``src/config.rs:17-19``);
* on status *change* the sustain timer and notified flag reset;
* an alert fires once per episode when the status requires alerting
  (WARNING/DANGER), it has been sustained ≥ ``sustain_mins`` (default
  10, ``src/config.rs:25``), and no alert was sent this episode.

:class:`AlertStateMachine` is the plain, deterministic core.
:func:`sustained_threshold_alerts` lifts it onto a keyed stream with
``applyInPandasWithState`` (one state row per source; scales to any
number of monitored sources because state is partitioned by key) and
fires when an observation arrives; :func:`sustained_threshold_alerts_timeout`
adds a processing-time timeout, so a source that goes quiet still fires.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_WARNING_MB = 3000.0
DEFAULT_DANGER_MB = 6000.0
DEFAULT_SUSTAIN_MINS = 10.0


class AlertStatus:
    NORMAL = "NORMAL"
    WARNING = "WARNING"
    DANGER = "DANGER"


@dataclass(frozen=True)
class AlertPayload:
    """Webhook payload shape (``src/alert_manager.rs:64-75``)."""

    type: str
    source: str
    status: str
    wal_size_mb: float
    threshold_mb: float
    duration_mins: float
    timestamp: float  # epoch seconds


class AlertStateMachine:
    """Per-source sustained-threshold episode tracker."""

    def __init__(
        self,
        warning_mb: float = DEFAULT_WARNING_MB,
        danger_mb: float = DEFAULT_DANGER_MB,
        sustain_mins: float = DEFAULT_SUSTAIN_MINS,
    ) -> None:
        self.warning_mb = warning_mb
        self.danger_mb = danger_mb
        self.sustain_mins = sustain_mins
        #: source → (status, episode_start_s, notified)
        self._state: dict[str, tuple[str, float, bool]] = {}

    def classify(self, wal_size_mb: float) -> str:
        if wal_size_mb >= self.danger_mb:
            return AlertStatus.DANGER
        if wal_size_mb >= self.warning_mb:
            return AlertStatus.WARNING
        return AlertStatus.NORMAL

    def observe(self, source: str, wal_size_mb: float, now_s: float) -> AlertPayload | None:
        status = self.classify(wal_size_mb)
        prev = self._state.get(source)
        if prev is None or prev[0] != status:
            self._state[source] = (status, now_s, False)
            return None
        _, since, notified = prev
        duration_mins = (now_s - since) / 60.0
        if status == AlertStatus.NORMAL or notified or duration_mins < self.sustain_mins:
            return None
        self._state[source] = (status, since, True)
        threshold = self.danger_mb if status == AlertStatus.DANGER else self.warning_mb
        return AlertPayload(
            type="wal_size",
            source=source,
            status=status,
            wal_size_mb=wal_size_mb,
            threshold_mb=threshold,
            duration_mins=duration_mins,
            timestamp=now_s,
        )

    def export_state(self, source: str) -> tuple[str, float, bool] | None:
        return self._state.get(source)

    def import_state(self, source: str, state: tuple[str, float, bool] | None) -> None:
        if state is None:
            self._state.pop(source, None)
        else:
            self._state[source] = tuple(state)


ALERT_OUTPUT_SCHEMA = (
    "source string, status string, wal_size_mb double, threshold_mb double, "
    "duration_mins double, alert_ts double"
)
_ALERT_STATE_SCHEMA = "status string, since_s double, notified boolean"


def sustained_threshold_alerts(
    observations: DataFrame,
    warning_mb: float = DEFAULT_WARNING_MB,
    danger_mb: float = DEFAULT_DANGER_MB,
    sustain_mins: float = DEFAULT_SUSTAIN_MINS,
    source_col: str = "source",
    size_col: str = "wal_size_mb",
    ts_col: str = "obs_ts",
) -> DataFrame:
    """Keyed stateful alert stream over (source, wal_size_mb, obs_ts)
    observations; ``obs_ts`` is epoch seconds. Emits one row per fired
    alert. State is one tiny tuple per source — at 100 TB / thousands of
    sources this is trivially partitioned by the grouping key."""

    def fn(key: tuple, pdfs, state: GroupState):
        machine = AlertStateMachine(warning_mb, danger_mb, sustain_mins)
        source = key[0]
        if state.exists:
            st, since, notified = state.get
            machine.import_state(source, (st, since, notified))
        fired = []
        # pdfs is an iterator of Arrow CHUNKS of one key's rows; sorting
        # each chunk alone would process time-regressing sequences when a
        # key spans chunks (>maxRecordsPerBatch rows) — concat first, one
        # global event-time sort per key
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks, ignore_index=True)
            for row in whole.sort_values(ts_col).itertuples(index=False):
                payload = machine.observe(
                    source, float(getattr(row, size_col)), float(getattr(row, ts_col))
                )
                if payload is not None:
                    fired.append(payload)
        st = machine.export_state(source)
        if st is not None:
            state.update(st)
        if fired:
            yield pd.DataFrame(
                {
                    "source": [p.source for p in fired],
                    "status": [p.status for p in fired],
                    "wal_size_mb": [p.wal_size_mb for p in fired],
                    "threshold_mb": [p.threshold_mb for p in fired],
                    "duration_mins": [p.duration_mins for p in fired],
                    "alert_ts": [p.timestamp for p in fired],
                }
            )

    return observations.groupBy(source_col).applyInPandasWithState(
        fn,
        outputStructType=ALERT_OUTPUT_SCHEMA,
        stateStructType=_ALERT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sustained_threshold_alerts_timeout(
    observations: DataFrame,
    warning_mb: float = DEFAULT_WARNING_MB,
    danger_mb: float = DEFAULT_DANGER_MB,
    sustain_mins: float = DEFAULT_SUSTAIN_MINS,
    source_col: str = "source",
    size_col: str = "wal_size_mb",
) -> DataFrame:
    """Processing-time-TIMER form of the alert state machine, built on
    ``applyInPandasWithState`` + ``ProcessingTimeTimeout`` — fires even
    when the source goes quiet, the behavior of the reference's
    duration check (``src/alert_manager.rs:113-177``), without needing
    the ``transformWithStateInPandas`` runtime (whose Python worker
    requires protobuf).

    Mechanics: a key entering WARNING/DANGER arms a timeout for the
    remaining sustain duration; a status change re-arms it, NORMAL
    disarms, and a fired timeout emits the once-per-episode alert. One
    tiny state row per source, partitioned by key.
    """
    sustain_ms = int(sustain_mins * 60_000)
    classify = AlertStateMachine(warning_mb, danger_mb, sustain_mins).classify

    def fn(key: tuple, pdfs, state: GroupState):
        source = key[0]
        now = state.getCurrentProcessingTimeMs()
        if state.hasTimedOut:
            status, since, size, notified = state.get
            if status != AlertStatus.NORMAL and not notified:
                state.update((status, float(since), float(size), True))
                yield pd.DataFrame(
                    {
                        "source": [source],
                        "status": [status],
                        "wal_size_mb": [float(size)],
                        "threshold_mb": [
                            danger_mb
                            if status == AlertStatus.DANGER
                            else warning_mb
                        ],
                        "duration_mins": [(now - since) / 60_000.0],
                        "alert_ts": [now / 1000.0],
                    }
                )
            return

        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        last = float(pd.concat(chunks, ignore_index=True)[size_col].iloc[-1])
        status = classify(last)
        if status == AlertStatus.NORMAL:
            if state.exists:
                state.remove()  # episode over; next crossing starts fresh
            return
        if state.exists and state.get[0] == status:
            _s, since, _sz, notified = state.get
            since = float(since)
            notified = bool(notified)
        else:
            since, notified = float(now), False  # new episode
        state.update((status, since, last, notified))
        if not notified:
            # arm (or re-arm) the sustain timer for the remaining time —
            # timeouts are cleared on every invocation, so always reset
            state.setTimeoutDuration(max(1, int(since + sustain_ms - now)))

    return observations.groupBy(source_col).applyInPandasWithState(
        fn,
        outputStructType=ALERT_OUTPUT_SCHEMA,
        stateStructType="status string, since_ms double, size_mb double, notified boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
