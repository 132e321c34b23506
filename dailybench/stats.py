"""Spread arithmetic shared by the steadiness check and its tests.

Medians and quartiles are those of Python's `statistics` module
(`statistics.quantiles(values, n=4)`, its default exclusive method).
"""
import statistics


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`
    (negative when it is better)."""
    change = (second - first) / first
    return change if better == "lower" else -change
