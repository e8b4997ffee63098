"""The capacity gate behind ``bench.py`` and ``bench_extra.py``."""

import hostgate


def test_capacity_quick_measures_positive_throughput():
    assert hostgate.capacity_quick(2, work=20_000) > 0


def test_gate_certifies_first_sample_against_empty_reference():
    ref: dict = {}
    assert hostgate.gate(2, ref, frac=0.0, max_wait_s=10, settle_s=0) == (1.0, True)
    assert ref["max"] > 0
