"""The end-to-end metric set the result line reports."""

from perfbench.common import cycle_metrics


def test_cycle_metrics_names_and_units():
    metrics, record = cycle_metrics(30.0, [10.0, 14.0, 11.0], 1500, 25.0, 5000, 2000, 2800.0)
    assert metrics == {
        "setup_s": (30.0, "s"), "cycle_p50_s": (11.0, "s"), "docs_per_s": (60.0, "1/s"),
        "stored_bytes_per_doc": (2.5, "B"), "peak_rss_mb": (2800.0, "MB")}
    assert record["cycle_s"] == [10.0, 14.0, 11.0]
