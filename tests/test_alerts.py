"""Quality alert thresholds (reference docs/data_quality.md:414-421):
policy layer over the validation metrics — recorded alerts table,
raise-on-critical, off by default."""

import pytest

from ecommerce_lakehouse_spark.lake import LakeTable
from ecommerce_lakehouse_spark.pipelines import run_medallion
from ecommerce_lakehouse_spark.quality import AlertPolicy, QualityAlertError

# end-to-end storage/streaming/property tier (README two-tier note):
# the fast path skips these with  -m "not slow"
pytestmark = pytest.mark.slow


def _ts(spark):
    import datetime

    return datetime.datetime(1995, 3, 1, 12, 0, 0)


def test_high_alert_recorded_run_completes(spark, tmp_path, medallion_inputs):
    """>0.1% invalid references fires a HIGH alert: recorded in the
    quality_alerts table, run still completes (only critical blocks)."""
    ts = _ts(spark)
    orders = [(i, 100 + i, 50.0 * i, ts) for i in range(1, 11)]
    lineitem = [
        (1 + (i % 10), i, 1 + (i % 6), 1.0, 0.1, 99.0) for i in range(99)
    ] + [(3, 999, 999, 1.0, 0.1, 99.0)]  # 1/100 invalid part ref = 1% > 0.1%
    d = medallion_inputs(orders, lineitem)
    root = str(tmp_path / "lake")
    t = run_medallion(spark, d, root, alert_policy=AlertPolicy())
    at = t["quality_alerts"].read()
    rows = {(r.dataset, r.alert_type, r.severity) for r in at.collect()}
    assert ("lineitem", "referential_integrity", "high") in rows
    assert not any(sev == "critical" for _, _, sev in rows)
    assert t["gold.daily_sales"].read().count() > 0  # pipeline finished


def test_critical_alert_records_then_raises(spark, tmp_path, medallion_inputs):
    """A batch whose rejection rate crosses the critical threshold
    (schema-level failure) is recorded in quality_alerts AND aborts the
    run before the batch reaches silver. The flows run concurrently, so
    the other datasets' flows still complete; every alert is recorded
    exactly once and gold never runs."""
    ts = _ts(spark)
    orders = [(i, 100 + i, 50.0 * i, ts) for i in range(1, 6)] + [
        (None, 200 + i, 10.0, ts) for i in range(7)
    ]  # 7/12 null pk = 58% rejected > 50%
    lineitem = [(1, i, 1, 1.0, 0.1, 99.0) for i in range(10)]
    d = medallion_inputs(orders, lineitem)
    root = str(tmp_path / "lake")
    with pytest.raises(QualityAlertError, match="schema_validation"):
        run_medallion(spark, d, root, alert_policy=AlertPolicy())
    at = LakeTable(spark, f"{root}/quality_alerts")
    assert len(at.history()) == 1  # recorded in one commit
    rows = at.read().collect()
    keys = [(r.dataset, r.alert_type, r.rule) for r in rows]
    assert len(keys) == len(set(keys))
    crit = [r for r in rows if r.severity == "critical"]
    assert len(crit) == 1 and crit[0].dataset == "orders"
    assert crit[0].violation_pct > 50.0
    # the poisoned batch never reached silver (nor quarantine)
    assert not LakeTable(spark, f"{root}/silver/orders").exists()
    assert not LakeTable(spark, f"{root}/rejected/orders").exists()
    # the sibling flows finished and committed; gold did not run
    assert LakeTable(spark, f"{root}/silver/part").read().count() == 6
    assert LakeTable(spark, f"{root}/silver/lineitem").read().count() == 10
    assert not LakeTable(spark, f"{root}/gold/daily_sales").exists()


def test_policy_off_by_default(spark, tmp_path, medallion_inputs):
    """No policy, no alerts table, no extra jobs — oracle runs unchanged."""
    ts = _ts(spark)
    orders = [(i, 100 + i, 50.0 * i, ts) for i in range(1, 11)]
    lineitem = [(1 + (i % 10), i, 1 + (i % 6), 1.0, 0.1, 99.0) for i in range(20)]
    d = medallion_inputs(orders, lineitem)
    root = str(tmp_path / "lake")
    t = run_medallion(spark, d, root)
    assert "quality_alerts" not in t


def test_processing_delay_and_metric_discrepancy(spark, tmp_path, medallion_inputs):
    """Remaining two reference alert types: sla_seconds=0 makes every
    dataset fire a MEDIUM processing_delay alert (recorded, never
    blocking); the gold-vs-silver recalculated metric matches by
    construction so no metric_discrepancy fires; the threshold math
    itself is unit-checked."""
    from ecommerce_lakehouse_spark.quality.alerts import (
        AlertPolicy as P,
        metric_discrepancy_alert,
    )

    ts = _ts(spark)
    orders = [(i, 100 + i, 50.0 * i, ts) for i in range(1, 11)]
    lineitem = [(1 + (i % 10), i, 1 + (i % 6), 1.0, 0.1, 99.0) for i in range(20)]
    d = medallion_inputs(orders, lineitem)
    t = run_medallion(
        spark, d, str(tmp_path / "lake"), alert_policy=P(sla_seconds=0.0)
    )
    rows = [(r.dataset, r.alert_type, r.severity) for r in t["quality_alerts"].read().collect()]
    delays = [r for r in rows if r[1] == "processing_delay"]
    assert {r[0] for r in delays} == {"part", "orders", "lineitem"}
    assert all(r[2] == "medium" for r in delays)
    assert not [r for r in rows if r[1] == "metric_discrepancy"]

    assert metric_discrepancy_alert(100.0, 103.0, P(), "g", "m")[0]["violation_pct"] == 3.0
    assert metric_discrepancy_alert(100.0, 100.5, P(), "g", "m") == []
    assert metric_discrepancy_alert(0.0, 0.0, P(), "g", "m") == []
