"""self_s arithmetic: a layer's wall time minus its largest upstream."""

import pytest

from tracing import Layer, self_time


def test_self_time_subtracts_the_largest_upstream():
    layers = {
        "load": Layer(wall_s=1.0),
        "keys": Layer(wall_s=1.5, upstream=("load",)),
        "anti": Layer(wall_s=2.0, upstream=("keys",)),
        "pairs": Layer(wall_s=1.75, upstream=("keys",)),
        "report": Layer(wall_s=4.0, upstream=("anti", "pairs")),
    }
    assert self_time(layers, "load") == pytest.approx(1.0)
    assert self_time(layers, "keys") == pytest.approx(0.5)
    assert self_time(layers, "report") == pytest.approx(2.0)


def test_self_time_may_be_negative_within_noise():
    layers = {"a": Layer(wall_s=1.0), "b": Layer(wall_s=0.9, upstream=("a",))}
    assert self_time(layers, "b") == pytest.approx(-0.1)
