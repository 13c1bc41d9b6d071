"""machine: the paper's machine-event path, batch then live, in one
application.

The batch phase (``machine_batch``) starts cold, as the reference runs
one spark-submit per machine-day file: ``daily_aggregator.run`` on the
CSV, then dashboard reads on the warehouse it wrote. The stream phase
(``machine_stream``) then starts the rollup and sessionize streams,
lands one warm-up drop and times 5-minute drops fed through the same
``cleanse``/rules code.

rows_per_s = CSV rows of the batch ``run`` / its wall (cold);
op_p50_ms  = median ms from a drop's rename until both streams have
             processed it;
setup_s    = session start + input builds + the streams' start and
             warm-up drop.
"""

from __future__ import annotations

from dataclasses import dataclass

import machine_batch as batch
import machine_stream as stream

LAYER_UNITS = {**batch.LAYER_UNITS, **stream.LAYER_UNITS}


@dataclass
class State:
    batch: batch.State
    stream: stream.State


def setup(run) -> State:
    return State(batch.setup(run), stream.setup(run))


def measure(run, st: State) -> None:
    batch.measure(run, st.batch)
    stream.start(run, st.stream)
    stream.measure(run, st.stream)


def trace(run, st: State) -> None:
    batch.trace(run, st.batch)
    stream.start(run, st.stream)
    stream.trace(run, st.stream)


def check(run, st: State) -> None:
    batch.check(run, st.batch)
    stream.check(run, st.stream)


def teardown(run, st: State) -> None:
    stream.teardown(run, st.stream)
