"""batch_tail_ms on trickle sits inside the drain mode."""

import numpy as np

from run import COMPACT_THRESHOLD, WORKLOADS


def test_tail_inside_the_drain_mode():
    # whole drain cycles: seven fast batches and one drain each; the tail
    # percentile lands among the drains, never between the modes, from
    # the workload's minimum window on (one cycle would interpolate
    # across them)
    wl = WORKLOADS["trickle"]
    assert wl.unit_batches == COMPACT_THRESHOLD and wl.min_units >= 2
    cycle = [500.0] * (COMPACT_THRESHOLD - 1) + [3000.0]
    for cycles in range(wl.min_units, 7):
        xs = cycle * cycles
        assert np.percentile(xs, wl.tail_p) == 3000.0
        assert np.median(xs) == 500.0
    assert np.percentile(cycle, wl.tail_p) < 3000.0
