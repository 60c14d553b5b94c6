"""bench.py's last stdout line is the whole result a reader of the
output's tail gets, so it must stay small whatever the timings read."""

import json

import bench


def test_summary_line_fits():
    times = {name: 12345.678 for name in bench.HEADLINE}
    times["frontier_3batches"] = 12345.678
    line = json.dumps(bench.summary(times, 0.1, 123456.7, 32, 3))
    assert len(bench.HEADLINE) == 12
    assert len(line.encode()) < 1536, len(line)
    got = json.loads(line)
    assert set(got["queries"]) == set(bench.HEADLINE) | {"frontier_3batches"}
    assert got["value"] == round(13 * 12345.678, 3)
    for key in ("metric", "sf", "frontier_urls_per_sec", "cpus", "rounds"):
        assert key in got
    assert not {"frontier_legs", "query_rounds", "calibration"} & set(got)
