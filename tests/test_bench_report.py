"""bench.py's stdout contract: the full result line, then a short last
line that survives a 2,000-character output tail. Spark-free: it checks
``report_lines`` on a synthetic result."""

import json

import bench


def test_report_last_line_fits_output_tail():
    names = [f"query_name_{i:02d}" for i in range(40)]
    result = {
        "metric": "cdc_events_per_sec",
        "value": 1209190.3,
        "unit": "events/sec",
        "queries": {n: 12.345 for n in names},
        "query_runs_sec": {n: [12.345, 13.456, 12.567] for n in names},
        "sf": 0.1,
        "cpus": 32,
        "cdc_events": 8_000_000,
        "cdc_runs_sec": [8.242, 7.114, 6.616],
        "protocol": "best-of-3 (per-query and replay spreads recorded; queries interleaved)",
    }
    probe = {"probe.cpu_s": 0.8123456789, "probe.membw_gbps": 7.123456789}
    *head, full, last = bench.report_lines(result, probe)
    assert not head
    assert len(last.encode()) <= 1500
    short = json.loads(last)
    assert short["value"] == 1209190.3
    assert short["cdc_runs_sec"] == [8.242, 7.114, 6.616]
    assert set(probe) <= set(short) and "query_runs_sec" not in short
    assert len(short["queries"]) == 40
    assert json.loads(full)["query_runs_sec"] == result["query_runs_sec"]
