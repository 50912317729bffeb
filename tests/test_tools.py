"""Measurement tools must not crash or misreport under the conditions
they exist to measure."""

from tools import steal_sampler, tier_drift


def test_tier_drift_median_when_every_trial_was_discarded():
    assert tier_drift.kept_median([]) is None
    assert tier_drift.kept_median([2.0, 1.0, 4.0]) == 2.0


def test_steal_window_does_not_count_guest_jiffies_twice():
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user, so it must not grow the total
    a = (0,) * 10
    b = (40, 0, 10, 40, 0, 0, 0, 10, 30, 0)
    w = steal_sampler.window(a, b)
    assert w == {"steal_pct": 10.0, "busy_pct": 50.0}
