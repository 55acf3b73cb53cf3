"""``bench.py`` renders BENCH/BASELINE.md from the JSON lines its worker
legs print; a template key the worker does not print crashes the whole
bench after every leg has run."""

from __future__ import annotations

import os
from collections import defaultdict

import bench

# the JSON line of ``bench_worker --mode patch`` (its shared skew/patch
# replay-and-verify branch): the start dict, then the update after replay
PATCH_LINE = {
    "events": 20_000, "patch_pct": 40,
    "events_per_sec": 1234.5, "wall_sec": 16.2, "rep_walls": [16.2],
    "verified_rows": 1_987, "oracle_match": True, "oracle_msg": "",
}


def test_patch_section_renders_from_worker_keys(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    os.makedirs(tmp_path / "BENCH")
    res = defaultdict(int)  # the headline legs are not under test here
    bench._write_baseline_md(res, res, 0.9, 0.8, [], 0.9, None, None, None,
                             None, None, patch=dict(PATCH_LINE))
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    section = md[md.index("## Patch-ingest leg"):]
    assert "**1,234.5 events/s**" in section
    assert "expected_patch_state,\n1,987 rows)" in section
