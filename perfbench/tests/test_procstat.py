"""/proc readings of this process tree."""

import time

import procstat
import run


def test_sampler_counts_cpu_and_memory():
    with procstat.TreeSampler(interval=0.05) as s:
        c0 = s.cpu_seconds()
        t = time.process_time()
        while time.process_time() - t < 0.3:
            pass
        assert s.cpu_seconds() - c0 >= 0.2
    assert s.peak_rss_mb > 1


def test_process_age():
    assert 0 < run.process_age_s() < 24 * 3600
