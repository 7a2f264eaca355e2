"""The per-kind median behind op_cpu_s."""

from perfbench.run import mix_median


def _ops(*pairs):
    return [{"kind": k, "cpu": v} for k, v in pairs]


def test_single_kind_is_the_plain_median():
    assert mix_median(_ops(("b", 3.0), ("b", 1.0), ("b", 2.0)), "cpu") == 2.0


def test_every_kind_weighs_the_same_however_often_a_run_drew_it():
    few_b = _ops(("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 5.0))
    many_b = _ops(("a", 1.0), ("b", 5.0), ("b", 5.0), ("b", 5.0))
    assert mix_median(few_b, "cpu") == mix_median(many_b, "cpu") == 3.0


def test_an_outlier_within_a_kind_does_not_move_it():
    ops = _ops(("a", 1.0), ("a", 1.0), ("a", 90.0), ("b", 2.0))
    assert mix_median(ops, "cpu") == 1.5
