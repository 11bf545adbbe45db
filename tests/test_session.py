"""Session helpers: scoped runtime confs and the default driver heap."""

from __future__ import annotations

import threading
import time

import pytest

from wistia_video_analytics_project_spark import session

KEY = "spark.graft.test.scoped"


def _overlap(spark) -> None:
    """Two threads scope ``KEY``, the second entering while the first is
    inside its block and leaving after it. Unserialized, the second
    captures the first's value as its prior and restores that value after
    the first has restored the real prior, leaving the key changed."""
    first_in, second_started = threading.Event(), threading.Event()

    def first():
        with session.scoped_conf(spark, {KEY: "first"}):
            first_in.set()
            second_started.wait(10)
            time.sleep(0.3)  # the second thread reaches its entry

    def second():
        first_in.wait(10)
        second_started.set()
        with session.scoped_conf(spark, {KEY: "second"}):
            time.sleep(1.0)  # outlives the first block

    threads = [threading.Thread(target=first), threading.Thread(target=second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    assert not any(t.is_alive() for t in threads)


@pytest.mark.parametrize("prior", ["original", None])
def test_scoped_conf_concurrent_blocks_restore_prior(spark, prior):
    if prior is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, prior)
    try:
        _overlap(spark)
        assert spark.conf.get(KEY, None) == prior
    finally:
        spark.conf.unset(KEY)


@pytest.mark.parametrize("phys_gib, expected", [(8, "4096m"), (256, "24576m")])
def test_default_driver_memory_capped_at_half_of_ram(monkeypatch, phys_gib, expected):
    page = 4096
    pages = phys_gib * 2**30 // page
    monkeypatch.setattr(
        session.os, "sysconf", {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}.__getitem__
    )
    assert session._default_driver_memory() == expected
