"""The crawl has one configuration surface: ``CrawlConfig`` plus the
``CrawlEngine`` arguments. No environment variable switches engine
behaviour, and the cluster entry point leaves size-based choices to the
engine."""

from __future__ import annotations

import re
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

import submit_crawl

PACKAGE = Path(__file__).resolve().parent.parent / "webcrawler_go_spark"
# the harness contract: core count and driver heap, nothing else
HARNESS_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}


def test_package_reads_only_harness_env_vars():
    names = {
        name
        for path in PACKAGE.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text())
    }
    assert names <= HARNESS_ENV, sorted(names - HARNESS_ENV)


class _Built(Exception):
    """Raised by the stand-in engine once it has recorded its arguments."""


class _Builder:
    def appName(self, _name):
        return self

    def getOrCreate(self):
        return object()


def test_submit_crawl_leaves_salting_and_width_to_engine(monkeypatch, tmp_path):
    calls = []

    def recording_engine(*args, **kwargs):
        calls.append(kwargs)
        raise _Built

    monkeypatch.setattr(submit_crawl, "CrawlEngine", recording_engine)
    monkeypatch.setattr(submit_crawl, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setattr(
        sys, "argv",
        ["submit_crawl.py", "--seeds", str(tmp_path / "seeds"), "--state", str(tmp_path)],
    )
    with pytest.raises(_Built):
        submit_crawl.main()
    assert len(calls) == 1
    assert "salted" not in calls[0]
    assert "adaptive_width" not in calls[0]
